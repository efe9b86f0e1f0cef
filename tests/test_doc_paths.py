"""The docs name only repo paths that exist: every ``tools/``,
``docs/``, ``tests/``, ``plans/`` or ``perfbench/`` path in the README,
the verify skill and ``docs/*.md`` must be on disk. A path inside a
``git show REV:path`` reference names a file in history and is
skipped."""

import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent

DOCS = [ROOT / "README.md", ROOT / ".claude/skills/verify/SKILL.md",
        *sorted((ROOT / "docs").glob("*.md"))]

GIT_SHOW = re.compile(r"git show [0-9a-f]{7,40}:\S+")
PATH = re.compile(r"(?<![\w./-])(?:tools|docs|tests|plans|perfbench)/"
                  r"[\w./-]*")


def doc_paths(text: str) -> list[str]:
    text = GIT_SHOW.sub("", text)
    return [m.group(0).rstrip(".,") for m in PATH.finditer(text)]


def test_git_show_references_are_skipped():
    assert doc_paths("see `git show 5f063be:tools/gone.py` and "
                     "tools/kept.py.") == ["tools/kept.py"]


@pytest.mark.parametrize("doc", DOCS, ids=lambda p: str(p.relative_to(ROOT)))
def test_doc_names_only_existing_paths(doc):
    missing = sorted({p for p in doc_paths(doc.read_text())
                      if not (ROOT / p).exists()})
    assert not missing, f"{doc.relative_to(ROOT)} names missing {missing}"
