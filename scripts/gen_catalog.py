"""Generate docs/OPERATORS.md — the user-facing operator catalog
(round 9, VERDICT r8 #7): one line per public function in
``operators/`` and ``functions/`` with its summary (docstring first
sentence) and the registered queries whose source references it (the
oracle-checked evidence for that op).

Cross-reference method: for every registered query, inspect.getsource
the callable and token-match public op names — precise for direct use;
ops consumed only through other ops (e.g. minhash_signatures inside
minhash_lsh_pairs) inherit "via <consumer>" links computed the same
way over operator sources.

Usage: python scripts/gen_catalog.py   (rewrites docs/OPERATORS.md)
"""

from __future__ import annotations

import importlib
import inspect
import os
import pkgutil
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from udacity_datalake_spark_spark.plans import QUERIES  # noqa: E402

PKG = "udacity_datalake_spark_spark"
OUT = os.path.join(REPO, "docs", "OPERATORS.md")


def public_functions(subpkg: str):
    mod = importlib.import_module(f"{PKG}.{subpkg}")
    out = []
    for info in sorted(pkgutil.iter_modules(mod.__path__), key=lambda i: i.name):
        m = importlib.import_module(f"{PKG}.{subpkg}.{info.name}")
        for name, fn in sorted(vars(m).items()):
            if (
                not name.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == m.__name__
            ):
                out.append((info.name, name, fn))
    return out


def first_sentence(fn) -> str:
    doc = inspect.getdoc(fn) or ""
    doc = " ".join(doc.split())
    m = re.match(r"(.+?[.!?])(\s|$)", doc)
    s = m.group(1) if m else doc[:140]
    return s if len(s) <= 180 else s[:177] + "..."


def main() -> None:
    groups = {"operators": public_functions("operators"),
              "functions": public_functions("functions")}
    qsrc = {qn: inspect.getsource(fn) for qn, fn in QUERIES.items()}
    all_ops = [(g, m, n, f) for g, fns in groups.items() for m, n, f in fns]
    opsrc = {n: inspect.getsource(f) for _, _, n, f in all_ops}

    def users_of(name: str, sources: dict) -> list[str]:
        pat = re.compile(rf"\b{re.escape(name)}\s*\(")
        return sorted(k for k, s in sources.items() if pat.search(s))

    lines = [
        "# Operator catalog",
        "",
        "Every public operator/function, its one-line summary, and the",
        "registered oracle-checked queries whose source uses it directly",
        "(`queries()` entries — each has a DuckDB oracle twin unless noted",
        "in `__spark_entry__.py`).  Ops consumed only through other ops",
        "show `via <consumer>`.  Scale-shape details live in each",
        "function's docstring; measured decades in SCALE.md and the",
        "BENCH_* artifacts.  Regenerate with `python scripts/gen_catalog.py`.",
        "",
    ]
    for g, fns in groups.items():
        lines += [f"## `{PKG}/{g}/`", ""]
        cur_mod = None
        for mod_name, name, fn in fns:
            if mod_name != cur_mod:
                lines += [f"### {mod_name}.py", "",
                          "| op | summary | evidence |", "|---|---|---|"]
                cur_mod = mod_name
            qs = users_of(name, qsrc)
            if qs:
                shown = [q.split("_")[0] for q in qs]
                ev = ", ".join(sorted(set(shown))[:8])
                if len(set(shown)) > 8:
                    ev += f" +{len(set(shown)) - 8} more"
            else:
                consumers = [
                    c for c in users_of(name, opsrc) if c != name
                ]
                ev = f"via {', '.join(consumers[:3])}" if consumers else "—"
            summary = first_sentence(fn).replace("|", "\\|")
            lines.append(f"| `{name}` | {summary} | {ev} |")
        lines.append("")
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    n_ops = len(all_ops)
    print(f"wrote {OUT} ({n_ops} ops, {len(QUERIES)} registered queries scanned)")


if __name__ == "__main__":
    main()
