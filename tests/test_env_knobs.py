"""No environment knobs on graded code paths.

The operators and the lineage-cut policy must plan the same way under
any environment: a stray variable must not change what a registered key
executes. This is a static source scan, so it needs no Spark session.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "gluettalax_spark"
_ENV_READ = re.compile(r"\bos\.environ\b|\bgetenv\b|\benviron\s*\[|\bfrom\s+os\s+import\b[^\n]*\benviron\b")


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
