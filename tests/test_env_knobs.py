"""Static source scans of the graded code paths (no Spark session).

* No environment knobs: the operators and the lineage-cut policy must
  plan the same way under any environment, so a stray variable must not
  change what a registered key executes.
* One storage level: every lineage cut stores at ``memory.CKPT_LEVEL``
  (serialized, evictable to disk), the policy ``memory.py`` documents.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "gluettalax_spark"
_ENV_READ = re.compile(r"\bos\.environ\b|\bgetenv\b|\benviron\s*\[|\bfrom\s+os\s+import\b[^\n]*\benviron\b")
_CUT_CALL = re.compile(r"\.(?:persist|cache|localCheckpoint)\(")


def test_no_env_reads_in_operators_or_memory():
    # The scan must see the sources and must catch each form of read.
    files = sorted((PKG / "operators").rglob("*.py")) + [PKG / "memory.py"]
    assert len(files) > 10 and all(f.is_file() for f in files)
    for line in ('os.environ.get("K")', 'os.getenv("K")', "from os import environ", 'environ["K"]'):
        assert _ENV_READ.search(line), line

    offenders = [
        f"{f.relative_to(PKG.parent)}:{i}: {line.strip()}"
        for f in files
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if _ENV_READ.search(line)
    ]
    assert offenders == []


def _cuts_without_ckpt_level(src: str) -> list[int]:
    """Line numbers of the persist/cache/localCheckpoint calls in ``src``
    whose (possibly multi-line) argument list does not name CKPT_LEVEL."""
    lines = []
    for m in _CUT_CALL.finditer(src):
        depth, end = 1, m.end()
        while depth and end < len(src):
            depth += {"(": 1, ")": -1}.get(src[end], 0)
            end += 1
        if "CKPT_LEVEL" not in src[m.end() : end]:
            lines.append(src.count("\n", 0, m.start()) + 1)
    return lines


def test_no_deserialized_lineage_cuts():
    """Every lineage cut outside memory.py passes CKPT_LEVEL. PySpark's
    default checkpoint level stores deserialized row OBJECTS — at the
    100x rehearsal scale that is what OOM'd the 8 GiB heap twice (HITS
    edge cache in r11, the 27M-pair CC sym table in r12; see
    gluettalax_spark/memory.py) — and a bare persist/cache leaves the
    level to whatever default the call picks."""
    for src in (
        "df.persist()",
        "df.cache()",
        "df.localCheckpoint()",
        "df.persist(StorageLevel.MEMORY_AND_DISK)",
        "df.localCheckpoint(\n    eager=False\n)",
        "f(df.persist(lvl(x)), CKPT_LEVEL)",
    ):
        assert _cuts_without_ckpt_level(src) == [src.count("\n", 0, src.index(".")) + 1], src
    for src in (
        "df.persist(CKPT_LEVEL)",
        "df.localCheckpoint(\n    eager=False, storageLevel=CKPT_LEVEL\n)",
        "df.unpersist()",
    ):
        assert _cuts_without_ckpt_level(src) == [], src

    files = [f for f in sorted(PKG.rglob("*.py")) if f.name != "memory.py"]
    assert len(files) > 10
    offenders = [
        f"{f.relative_to(PKG.parent)}:{i}"
        for f in files
        for i in _cuts_without_ckpt_level(f.read_text())
    ]
    assert offenders == []
