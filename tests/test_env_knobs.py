"""Static source scans of the graded code paths (no Spark session).

* No environment knobs: the operators and the lineage-cut policy must
  plan the same way under any environment, so a stray variable must not
  change what a registered key executes.
* One storage level: every lineage cut stores at ``memory.CKPT_LEVEL``
  (serialized, evictable to disk), the policy ``memory.py`` documents.
* One home per text primitive: the tokenizers, the word and stop-word
  counts and the n-gram joins are spelled out once, in the module that
  holds the Spark builder and its DuckDB twin.
* One loop-cut policy: the graph loops cut lineage only through
  ``graph._GenerationRotator``, which ``graph.run_rounds`` drives.
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


# Each text primitive's spelling and, per home module, how often it may
# appear there (the Spark builder and the DuckDB fragment); every other
# operator module composes those. ``F.`` prefixes are dropped before the
# scan, so ``F.split(F.lower(...))`` counts as ``split(lower(``.
_TEXT_HOMES = {
    # whitespace tokenizer (dedup) and term tokenizer (text)
    "split(lower(": {"dedup.py": 1, "text.py": 1},
    "string_split_regex(lower(": {"dedup.py": 1, "text.py": 1},
    # DuckDB word split; the Spark side spells RE2's class out
    "\\S+": {"dedup.py": 1},
    # stop words of the stop-word count and the quality composite
    "the|and|of|to|is|a|in": {"text.py": 1},
    # fingerprint normalization and BPE-ish pieces (Spark builder, DuckDB twin)
    "trim(regexp_replace(lower(": {"dedup.py": 2},
    "[A-Za-z]+|[0-9]|[^A-Za-z0-9": {"dedup.py": 2},
    # n-gram joins: generated by dedup.duck_ngram, never spelled
    "w[i] || '_' || w[i+1]": {},
    "tokens[i] || ' ' || tokens[i+1]": {},
}
# RAKE splits text into candidate phrases at its own delimiter list
# (``_RAKE_SPLIT``, built from ``_RAKE_STOPS``): a phrase splitter with
# its own stop list, not one of the primitives above.
_TEXT_EXEMPT = re.compile(r"\b_RAKE_(?:SPLIT|STOPS)\b")


def _text_spellings(src: str) -> dict[str, int]:
    """How often each primitive's spelling occurs in ``src``, skipping
    the RAKE lines."""
    kept = "\n".join(
        line.replace("F.", "") for line in src.splitlines() if not _TEXT_EXEMPT.search(line)
    )
    return {p: kept.count(p) for p in _TEXT_HOMES}


def test_text_primitives_have_one_home():
    for src, pattern in (
        (r'F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")', "split(lower("),
        ("F.expr(\"filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) >= 3)\")", "split(lower("),
        ("list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')", "string_split_regex(lower("),
        ("CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)", "\\S+"),
        ("regexp_extract_all(lower(text), '\\b(the|and|of|to|is|a|in)\\b')", "the|and|of|to|is|a|in"),
        ('F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\\s+", " ")))', "trim(regexp_replace(lower("),
        (r"regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]', 0)", "[A-Za-z]+|[0-9]|[^A-Za-z0-9"),
        ("i -> w[i] || '_' || w[i+1]", "w[i] || '_' || w[i+1]"),
        ("i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]", "tokens[i] || ' ' || tokens[i+1]"),
    ):
        assert _text_spellings(src) == {p: int(p == pattern) for p in _TEXT_HOMES}, src
    for src in (
        '_tokens_col().alias("tokens")',
        "{_WS_TOKENS_DUCK} AS tokens",
        "md5({_NORMALIZED_DUCK}) AS fingerprint",
        "i -> {duck_ngram(3)}",
        'F.explode(F.split(F.lower(F.col("text")), _RAKE_SPLIT))',
        '_RAKE_STOPS = "the|and|of|to|is|a|in"',
        "F.split(F.col(\"text\"), \"\\n\")",
    ):
        assert not any(_text_spellings(src).values()), src

    files = sorted((PKG / "operators").rglob("*.py"))
    assert len(files) > 10
    offenders = [
        f"{f.name}: {pattern!r} x{n}"
        for f in files
        for pattern, n in _text_spellings(f.read_text()).items()
        if n > _TEXT_HOMES[pattern].get(f.name, 0)
    ]
    assert offenders == []


# The only top-level definitions of operators/graph.py that may call
# localCheckpoint: the generation rotator every graph loop cuts through.
_LOOP_CUT_HOMES = {"_GenerationRotator"}


def _local_checkpoint_owners(src: str) -> list[str]:
    """The top-level def/class enclosing each localCheckpoint call of
    ``src`` ("<module>" above the first one)."""
    owners, owner = [], "<module>"
    for line in src.splitlines():
        m = re.match(r"(?:def|class)\s+(\w+)", line)
        if m:
            owner = m.group(1)
        if ".localCheckpoint(" in line:
            owners.append(owner)
    return owners


def test_graph_loops_cut_through_the_rotator():
    for src, owners in (
        ("class _GenerationRotator:\n    def checkpoint(self, df):\n        df.localCheckpoint(eager=False)", []),
        ("def graph_kcore(spark, sf_dir):\n    deg = deg.localCheckpoint(eager=False)", ["graph_kcore"]),
        ("ranks = state.localCheckpoint(eager=False)", ["<module>"]),
        ("def run_rounds(state):\n    return rot.checkpoint(state)", []),
    ):
        got = [o for o in _local_checkpoint_owners(src) if o not in _LOOP_CUT_HOMES]
        assert got == owners, src

    src = (PKG / "operators" / "graph.py").read_text()
    assert "class _GenerationRotator" in src
    offenders = [o for o in _local_checkpoint_owners(src) if o not in _LOOP_CUT_HOMES]
    assert offenders == []
