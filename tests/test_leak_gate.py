"""Leak gate: the engine must not import the reference's stack
(``requests`` is allowed — the REST source uses the public library
behind an import-try) nor name internal or proprietary hosts. Scope:
the package, the tools and the top-level scripts, ``*.py`` only."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent

LEAK_PATTERNS = (r"(import|from) +(boto3|psycopg2|airflow|dropbox)\b",
                 r"anthropic", r"\.corp\b", r"\.internal\b",
                 r"zoom\.us", r"api\.zoom")

SCOPE = ("zoom_etl_spark", "tools", "bench.py", "scale_smoke.py",
         "__spark_entry__.py")


def _files():
    for name in SCOPE:
        p = ROOT / name
        yield from sorted(p.rglob("*.py")) if p.is_dir() else [p]


def test_no_leak_patterns():
    pats = [re.compile(p) for p in LEAK_PATTERNS]
    hits = []
    for f in _files():
        for n, line in enumerate(f.read_text().splitlines(), 1):
            hits += [f"{f.relative_to(ROOT)}:{n}: {pat.pattern} :: {line}"
                     for pat in pats if pat.search(line)]
    assert not hits, "\n".join(hits)
