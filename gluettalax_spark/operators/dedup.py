"""Deduplication operators over ``documents`` — exact, MinHash+LSH,
SimHash, and blocked n-gram Jaccard (BASELINE.json north-star set).

Design for 100 TB:

* every pipeline is shuffle-bounded: shingle explode → hash-partitioned
  aggregate → band-bucket equi-join → verify only candidate pairs.
  Nothing ever compares all-pairs.
* hashes are md5 **by construction** so the DuckDB oracle can replay the
  identical signatures (cross-engine determinism). At production scale
  swap md5 → xxhash64 (same plan, ~5× cheaper); the plan shape is the
  thing under test.

MinHash/LSH parameters: k=16 hashes, 4 bands × 4 rows. P(candidate) =
1-(1-j^4)^4 — ~50% at j≈0.66, >97% at j≈0.85 — tuned for the near-dup
threshold 0.5 used here.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gluettalax_spark.registry import register
from gluettalax_spark.tables import load, load_spread

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_THRESHOLD = 0.5

# --------------------------------------------------------------------------
# Shared tokenizing and shingling (word n-grams over normalized tokens):
# each Spark builder beside its DuckDB twin
# --------------------------------------------------------------------------

# The members of the oracles' whitespace class, as Spark SQL literal text.
# DuckDB's \s (RE2) is [\t\n\f\r ]; Java's \s also matches U+000B, so the
# Spark side spells the RE2 class out. Backslashes are doubled because
# Spark SQL string literals unescape them once.
_WS_CHARS_SQL = r"\\t\\n\\f\\r "


def ws_tokens_sql(col: str = "text") -> str:
    """Spark SQL text of the whitespace tokenizer: the non-empty
    lowercase tokens of ``col``. The DuckDB twin is ``_WS_TOKENS_DUCK``."""
    return f"filter(split(lower({col}), '[{_WS_CHARS_SQL}]+'), t -> t != '')"


def _tokens_col() -> Column:
    """Non-empty lowercase whitespace tokens of ``text``."""
    return F.expr(ws_tokens_sql())


_WS_TOKENS_DUCK = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"

#: Spark SQL text of the whitespace-delimited words of ``text`` (case
#: kept, punctuation attached). The DuckDB twin is ``_WORDS_DUCK``.
WORDS_SQL = f"regexp_extract_all(text, '[^{_WS_CHARS_SQL}]+', 0)"
_WORDS_DUCK = r"regexp_extract_all(text, '\S+')"


def word_count() -> Column:
    """Number of whitespace-delimited words of ``text`` (long)."""
    return F.size(F.expr(WORDS_SQL)).cast("long")


_WORD_COUNT_DUCK = f"CAST(len({_WORDS_DUCK}) AS BIGINT)"


def normalized_text() -> Column:
    """``text`` lowercased, its whitespace runs collapsed to one space,
    trimmed: the content every exact fingerprint hashes. The DuckDB twin
    is ``_NORMALIZED_DUCK``."""
    return F.expr(f"trim(regexp_replace(lower(text), '[{_WS_CHARS_SQL}]+', ' '))")


_NORMALIZED_DUCK = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


def bpe_ish_count() -> Column:
    """Number of BPE-ish pieces of ``text`` (long): letter runs, single
    digits and single other non-whitespace characters. The DuckDB twin
    is ``_BPE_ISH_COUNT_DUCK``."""
    pieces = f"regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9{_WS_CHARS_SQL}]', 0)"
    return F.size(F.expr(pieces)).cast("long")


_BPE_ISH_COUNT_DUCK = (
    r"CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)"
)


def duck_ngram(n: int, arr: str = "tokens", sep: str = " ") -> str:
    """DuckDB text of the ``n`` tokens of ``arr`` from 1-based index ``i``
    joined by ``sep`` (the lambda body of every n-gram list_transform)."""
    return f" || '{sep}' || ".join([f"{arr}[i]"] + [f"{arr}[i+{k}]" for k in range(1, n)])


def shingles_exploded(
    spark: SparkSession, sf_dir: str, carry: tuple[str, ...] = (), where: Column | None = None
) -> DataFrame:
    """(doc_id, s) — word 3-gram shingles, one row each (NOT deduplicated:
    every consumer is duplicate-invariant — ``min`` for MinHash,
    ``collect_set`` for shingle sets — so a distinct() here would be a
    pure extra full-width shuffle); docs with <3 tokens are dropped.
    ``where`` pre-filters DOCUMENTS (pushed into the parquet scan), so a
    consumer that shingles only a corpus slice never pays for the rest.

    Built with posexplode carrying the tokens array + positional
    ``element_at`` lookups (optimization r12): the previous lead() window
    hash-shuffled the full exploded token stream on doc_id just to see
    the next two tokens, which the array already holds in-row — Generate
    keeps the child's array column available without copying it per
    output row, element_at is codegen'd (unlike the ~5×-slower
    interpreted ``transform(sequence, …)`` lambda form), and the FIRST
    shuffle consumers pay is now their own doc_id aggregate over
    map-side partially-aggregated rows instead of the raw shingle
    stream. Measured 1.05 s → 0.63 s on the sf0.1 shingle count with a
    0-row multiset diff.
    """
    # load_spread (optimization r12): tokenize + posexplode over the
    # single-row-group scan ran on ONE task and serially wrote the whole
    # exploded shingle stream to the first shuffle; spreading the 5k-row
    # doc table first parallelizes the explode across cores. The `where`
    # pre-filter still reaches the parquet scan — Catalyst pushes
    # deterministic filters below the round-robin exchange.
    docs = load_spread(spark, sf_dir, "documents")
    if where is not None:
        docs = docs.filter(where)
    extra = list(carry)  # doc-level columns to ride along (e.g. source)
    toks = docs.select("doc_id", *extra, _tokens_col().alias("tokens")).filter(
        F.size("tokens") >= 3
    )
    pe = toks.select("doc_id", *extra, "tokens", F.posexplode("tokens").alias("pos", "tok"))
    return (
        pe.filter(F.col("pos") <= F.size("tokens") - 3)
        .select(
            "doc_id",
            *extra,
            F.concat_ws(
                " ",
                "tok",
                F.element_at("tokens", F.col("pos") + 2),
                F.element_at("tokens", F.col("pos") + 3),
            ).alias("s"),
        )
    )


def shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles: array<string>) — the array form of
    :func:`shingles_exploded` (element order unspecified; consumers sort
    or treat as a set)."""
    return (
        shingles_exploded(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("shingles"))
    )


def shingles_cte(*carry: str) -> str:
    """The shingling of :func:`shingles_df` in DuckDB SQL: CTEs ``toks``
    and ``sh(doc_id, *carry, shingles)`` (list_transform over 1-based
    indexes)."""
    cols = ", ".join(("doc_id",) + carry)
    return f"""
toks AS (
  SELECT {cols},
         {_WS_TOKENS_DUCK} AS tokens
  FROM documents
),
sh AS (
  SELECT {cols},
         list_distinct(list_transform(
           range(1, len(tokens) - 1),
           i -> {duck_ngram(3)}
         )) AS shingles
  FROM toks
  WHERE len(tokens) >= 3
)
"""


_SHINGLES_CTE = shingles_cte()


# --------------------------------------------------------------------------
# Exact dedup (hash-groupBy on normalized-content fingerprint)
# --------------------------------------------------------------------------

_EXACT_ORACLE = rf"""
WITH fp AS (
  SELECT doc_id, md5({_NORMALIZED_DUCK}) AS fingerprint
  FROM documents
)
SELECT
  fingerprint,
  CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
  count(*)                    AS n_copies
FROM fp
GROUP BY fingerprint
ORDER BY fingerprint
"""


@register("dedup_exact", _EXACT_ORACLE, doc="exact dedup: min-doc_id keeper per content hash")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup = groupBy(content_hash) keeping min(doc_id). One
    shuffle on the 16-byte hash (not the document text!) — the payload
    per row is constant regardless of document size, which is what makes
    this viable at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(normalized_text())
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("fingerprint")
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding near-dup
# --------------------------------------------------------------------------


# One md5 per shingle; the 16 MinHash functions are g_i = h1 + i·h2 with
# h1/h2 the two 32-bit halves of the digest's first 16 hex chars
# (Kirsch-Mitzenmacher double hashing). 16× fewer digests than salted
# md5s, and the signatures shuffle as longs instead of 32-char strings.


def _duck_hex_int(start: int, width: int = 8) -> str:
    """DuckDB int value of md5 hex chars [start, start+width) (no conv()
    there). width ≤ 15 keeps the value inside signed 64-bit."""
    terms = [
        f"(strpos('0123456789abcdef', substr(m, {start + k}, 1)) - 1) * {16 ** (width - 1 - k)}"
        for k in range(width)
    ]
    return "(" + " + ".join(terms) + ")"


# Bucket-size cap for the band self-joins. A (band_idx, band_val) bucket
# with n members yields O(n²) candidate pairs; on a boilerplate-heavy
# corpus (template farms, mirrored sites) single buckets reach millions of
# docs and the self-join — even AQE-skew-split — must still MATERIALIZE
# the quadratic pair stream. Production MinHash dedup caps the bucket:
# past the cap, candidate generation degrades from clique to a STAR
# around the bucket's smallest doc_id (O(n) pairs) — enough connectivity
# for cluster/keep-one dedup, while the pair stream stays linear. The
# fixture corpora never reach the cap, so the DuckDB oracles stay exact.
MAX_BAND_BUCKET = 512


def _cap_band_buckets(bands: DataFrame, key_cols: list[str], id_col: str, cap: int):
    """Split a band table into (within-cap rows, star pairs from over-cap
    buckets). The over-cap bucket list has < corpus/cap entries by
    construction — always broadcastable.

    Returns ``(kept, star)``:

    * ``kept`` — band rows whose bucket is within the cap (safe to
      self-join for clique candidates);
    * ``star`` — (rep, member) id pairs for every over-cap bucket, rep =
      min(id) of the bucket, rep < member always.

    Most callers want both halves joined into one candidate-pair frame:
    :func:`capped_bucket_pairs`. The degraded buckets themselves are
    reported by dedup_band_spill_report.

    The over-cap set is found with a partial-aggregated groupBy (keys
    only shuffle) and materialized eagerly — it is bounded, so this is
    one tiny job — then checked driver-side: on a non-skewed corpus (the
    common case) the guard costs exactly that probe and ``kept`` IS the
    input, so the downstream candidate join runs the same plan as an
    uncapped build (no broadcasts, no anti-join, no empty star branch).
    Only when skew is actually present do the broadcast anti-join and
    star rewrite enter the plan — the same adapt-at-runtime shape AQE
    uses for skew joins. A window over the band key would be one pass
    but would hash-partition the mega-bucket onto a single task — the
    exact skew this cap exists to avoid — so the aggregate+broadcast
    shape is the one that survives 100 TB."""
    sizes = bands.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("bucket_n"), F.min(id_col).alias("_rep")
    )
    # Bounded (< corpus/cap rows): materialize once, feed the emptiness
    # probe and (on the skew path) BOTH broadcasts without recomputing
    # the size aggregate per consumer. Lazy persist fuses the old
    # checkpoint job with the isEmpty probe right below (r12).
    over = sizes.filter(F.col("bucket_n") > cap).persist(CKPT_LEVEL)
    if over.isEmpty():
        star = bands.limit(0).select(
            F.col(id_col).alias("_star_a"), F.col(id_col).alias("_star_b")
        )
        return bands, star
    kept = bands.join(F.broadcast(over.select(*key_cols)), key_cols, "left_anti")
    star = (
        bands.join(F.broadcast(over.select(*key_cols, "_rep")), key_cols)
        .filter(F.col(id_col) != F.col("_rep"))
        .select(F.col("_rep").alias("_star_a"), F.col(id_col).alias("_star_b"))
    )
    return kept, star


def _pair_ends(id_col: str, payload: tuple[str, ...]) -> list[str]:
    """Column names of a candidate pair: ``<stem>_a``, ``<stem>_b`` for
    the id (``doc_id`` → ``doc_a``, ``doc_b``), then ``<p>_a``, ``<p>_b``
    per payload column."""
    stem = id_col.removesuffix("_id")
    return [f"{stem}_a", f"{stem}_b", *[f"{p}_{e}" for p in payload for e in "ab"]]


def _pair_side(
    df: DataFrame, id_col: str, end: str, payload: tuple[str, ...], *keep: str
) -> DataFrame:
    """``df``'s id and payload columns renamed for pair end ``end`` (a or
    b), with the ``keep`` columns as they are."""
    stem = id_col.removesuffix("_id")
    return df.select(
        F.col(id_col).alias(f"{stem}_{end}"),
        *[F.col(p).alias(f"{p}_{end}") for p in payload],
        *keep,
    )


def bucket_clique(
    kept: DataFrame, key_cols: list[str], id_col: str, payload: tuple[str, ...] = ()
) -> DataFrame:
    """Every pair a < b of ids sharing a ``key_cols`` bucket of ``kept``,
    with each end's ``payload`` columns (names from :func:`_pair_ends`):
    one equi-join of the bucket rows with themselves. Ids that sit in
    several buckets pair once per shared bucket."""
    a, b, *_ = out = _pair_ends(id_col, payload)
    return (
        _pair_side(kept, id_col, "a", payload, *key_cols)
        .join(_pair_side(kept, id_col, "b", payload, *key_cols), key_cols)
        .filter(F.col(a) < F.col(b))
        .select(*out)
    )


def capped_bucket_pairs(
    rows: DataFrame,
    key_cols: list[str],
    id_col: str,
    payload: tuple[str, ...],
    cap: int,
    lookup: DataFrame | None = None,
) -> DataFrame:
    """The candidate pairs of a bucket join under the bucket cap
    (:func:`_cap_band_buckets`): the :func:`bucket_clique` of every
    bucket within ``cap`` rows, plus the star pairs (bucket min id, other
    member) of every bucket over it, each star end with its ``payload``
    looked up by id in ``lookup`` (default ``rows``; pass the one-row-per
    id source when ``rows`` holds an id once per bucket). Callers whose
    ids sit in several buckets add their own ``distinct``."""
    kept, star = _cap_band_buckets(rows, key_cols, id_col, cap)
    clique = bucket_clique(kept, key_cols, id_col, payload)
    a, b, *_ = out = _pair_ends(id_col, payload)
    star = star.select(F.col("_star_a").alias(a), F.col("_star_b").alias(b))
    if payload:
        src = rows if lookup is None else lookup
        star = star.join(_pair_side(src, id_col, "a", payload), a).join(
            _pair_side(src, id_col, "b", payload), b
        )
    return clique.union(star.select(*out))


def duck_capped_bucket_pairs(
    rows: str, key_cols: list[str], id_col: str, payload: tuple[str, ...], cap: int
) -> str:
    """The DuckDB twin of :func:`capped_bucket_pairs` over the CTE
    ``rows``: CTEs ``sizes`` (bucket size and min id), ``clique`` and
    ``star``, both with :func:`_pair_ends`' columns."""
    names = _pair_ends(id_col, payload)
    keys = ", ".join(key_cols)

    def on(x: str, y: str) -> str:
        return " AND ".join(f"{x}.{k} = {y}.{k}" for k in key_cols)

    def cols(x: str, x_id: str) -> str:
        exprs = [x_id, f"b.{id_col}", *[f"{e}.{p}" for p in payload for e in (x, "b")]]
        return ", ".join(f"{e} AS {n}" for e, n in zip(exprs, names))

    pad = " " * (len(rows) + 8)
    star_lookup = f"\n  JOIN {rows} ra ON ra.{id_col} = s.rep" if payload else ""
    return f"""sizes AS (
  SELECT {keys}, count(*) AS n, min({id_col}) AS rep
  FROM {rows} GROUP BY {keys}
),
clique AS (
  SELECT {cols("a", f"a.{id_col}")}
  FROM {rows} a
  JOIN {rows} b ON {on("a", "b")}
{pad}AND a.{id_col} < b.{id_col}
  JOIN sizes s ON {on("s", "a")}
  WHERE s.n <= {cap}
),
star AS (
  SELECT {cols("ra", "s.rep")}
  FROM {rows} b
  JOIN sizes s ON {on("s", "b")}{star_lookup}
  WHERE s.n > {cap} AND b.{id_col} <> s.rep
)"""


def _minhash_bands(
    sigs: DataFrame, n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """(doc_id, band_idx, band_val): one row per band of each signature
    row of ``sigs`` — band_val is md5 of the band's comma-joined
    signatures. Parameterized so the band-configuration sweep can build
    every (b, r) split of the same 16 hashes."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[F.col(f"s{b * rows_per_band + r}") for r in range(rows_per_band)],
                    )
                ).alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_val"
    )


# The 16 signature aggregates of every MinHash oracle, over ``ints``
# (h1, h2) — the DuckDB twin of _minhash_sig_table's.
_DUCK_SIG_COLS = ",\n    ".join(f"min(h1 + {i} * h2) AS s{i}" for i in range(N_HASHES))


def _duck_band_rows(
    n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND, carry: str = ""
) -> str:
    """The ``bands`` CTE body of the MinHash oracles — the DuckDB twin of
    :func:`_minhash_bands`: one row per (doc, band) of ``sigs``;
    ``carry`` is SQL spliced in before band_idx (the sweep's cfg tag)."""
    return "\n  UNION ALL\n".join(
        "  SELECT doc_id, {carry}{b} AS band_idx, md5({concat}) AS band_val FROM sigs".format(
            carry=carry,
            b=b,
            concat=" || ',' || ".join(f"s{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(n_bands)
    )


# Shingles → one md5 per shingle: the CTE chain every MinHash oracle
# opens with. The LSH and sweep oracles continue it with the same
# ``ints``/``sigs`` (_DUCK_SIGS_CTES, the twin of _minhash_sig_table);
# the band-spill and accuracy oracles build their own.
_DUCK_HASHED_CTES = f"""{_SHINGLES_CTE},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hashed AS (SELECT doc_id, md5(s) AS m FROM ex)"""

_DUCK_SIGS_CTES = f"""{_DUCK_HASHED_CTES},
ints AS (
  SELECT doc_id,
    {_duck_hex_int(1)} AS h1,
    {_duck_hex_int(9)} AS h2,
    {_duck_hex_int(1, 15)} AS hs
  FROM hashed
),
sigs AS (
  SELECT doc_id,
    {_DUCK_SIG_COLS},
    list_distinct(list(hs)) AS hset
  FROM ints GROUP BY doc_id
)"""

_MINHASH_ORACLE = f"""
WITH {_DUCK_SIGS_CTES},
bands AS (
{_duck_band_rows()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
),
verified AS (
  SELECT
    c.doc_a,
    c.doc_b,
    round(
      CAST(len(list_intersect(x.hset, y.hset)) AS DOUBLE)
      / (len(x.hset) + len(y.hset) - len(list_intersect(x.hset, y.hset))),
      4
    ) AS jaccard
  FROM cand c
  JOIN sigs x ON c.doc_a = x.doc_id
  JOIN sigs y ON c.doc_b = y.doc_id
)
SELECT doc_a, doc_b, jaccard
FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


def _minhash_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s0..s15, shingles) — the 16 min-hash signatures plus the
    hashed shingle set, out of ONE groupBy (signatures and the verify
    sets share the aggregation; recomputing the tokenize→shingle→hash
    chain per consumer would triple the scan work). A consumer that
    reads only the signatures prunes the shingle set away: the
    ``collect_set`` and the ``hs`` projection drop out of its plan."""
    ex = (
        shingles_exploded(spark, sf_dir)
        .withColumn("m", F.md5("s"))
        .select(
            "doc_id",
            F.expr("CAST(conv(substr(m, 1, 8), 16, 10) AS BIGINT)").alias("h1"),
            F.expr("CAST(conv(substr(m, 9, 8), 16, 10) AS BIGINT)").alias("h2"),
            F.expr("CAST(conv(substr(m, 1, 15), 16, 10) AS BIGINT)").alias("hs"),
        )
    )
    # min(h1 + i·h2) per hash over the plain h1/h2 columns: computing
    # them inside each of the 16 aggregates would re-run the
    # md5/substr/conv chain 16× per row.
    sigs = [F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"s{i}") for i in range(N_HASHES)]
    return ex.groupBy("doc_id").agg(*sigs, F.collect_set("hs").alias("shingles"))


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_minhash_sig_table`, materialized once: the table feeds the
    band explode and both sides of the verify join — at cluster scale,
    "write the signature table to storage, then join against it".

    Lazy ``persist``, not eager ``localCheckpoint`` (optimization r12,
    guide §5): the eager RDD materialization ran a 2-3 s driver-blocking
    job per builder call (4-5x the 0.65 s the computation itself costs
    through the noop sink — row-object serialization overhead), while
    the SQL columnar cache materializes inside the first action and
    serves every consumer compressed. Nothing downstream depends on a
    frozen plan: the min-hash aggs are deterministic and the shingle
    sets are consumed order-insensitively (array_intersect/size)."""
    return _minhash_sig_table(spark, sf_dir).persist(CKPT_LEVEL)


@register("dedup_minhash_lsh", _MINHASH_ORACLE, doc="MinHash(16) + LSH(4×4) near-dup pairs, Jaccard-verified")
def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, max_bucket: int = MAX_BAND_BUCKET
) -> DataFrame:
    """shingle → 16 min-hash aggs (ONE groupBy — all 16 signatures in a
    single shuffle) → 4 band keys → explode → self-join on band key →
    verify candidates with exact Jaccard on HASHED shingle sets.

    The verify sets hold 60-bit shingle hashes, not shingle strings: the
    collect_set state and the verify-join payload shrink from ~24-byte
    strings to 8-byte longs, and the set intersection compares integers.
    Jaccard is unchanged up to 60-bit collisions (~n²/2^61 — vanishing),
    and both engines hash identically, so the oracle matches bit-for-bit
    regardless.

    At 100 TB: candidates per band-bucket ≈ true near-dups + hash
    collisions; the verify join touches only those pairs. The band join
    key is a 16-byte md5, so the shuffle is narrow. Skewed buckets
    (boilerplate docs) are AQE-split.
    """
    sigs = _minhash_sigs(spark, sf_dir)
    # Adversarial-skew guard: over-cap buckets degrade to star pairs (see
    # _cap_band_buckets). The fixture never spills, so the oracle is exact.
    # A doc pair can share several bands, hence the distinct.
    cand = capped_bucket_pairs(
        _minhash_bands(sigs), ["band_idx", "band_val"], "doc_id", (), max_bucket
    ).distinct()

    x = sigs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    y = sigs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


_BAND_SPILL_ORACLE = f"""
WITH {_DUCK_HASHED_CTES},
ints AS (
  SELECT doc_id,
    {_duck_hex_int(1)} AS h1,
    {_duck_hex_int(9)} AS h2
  FROM hashed
),
sigs AS (SELECT doc_id, {_DUCK_SIG_COLS} FROM ints GROUP BY doc_id),
bands AS (
{_duck_band_rows()}
)
SELECT CAST(band_idx AS BIGINT) AS band_idx, band_val,
       CAST(count(*) AS BIGINT) AS bucket_n
FROM bands
GROUP BY band_idx, band_val
HAVING count(*) > {MAX_BAND_BUCKET}
ORDER BY band_idx, band_val
"""


@register(
    "dedup_band_spill_report",
    _BAND_SPILL_ORACLE,
    doc=f"MinHash band buckets over the {MAX_BAND_BUCKET}-doc cap (skew spill observability)",
)
def dedup_band_spill_report(
    spark: SparkSession, sf_dir: str, max_bucket: int = MAX_BAND_BUCKET
) -> DataFrame:
    """Observability for the band-bucket cap: every (band_idx, band_val)
    bucket that dedup_minhash_lsh degrades to star candidates, with its
    size. Healthy corpora return 0 rows (the fixture does); a template
    farm shows up here as a handful of giant buckets — the metric a
    production dedup run logs and alerts on. Same one-shuffle signature
    aggregation as the dedup itself (shingle sets pruned, no cut), then
    a count per band key."""
    return (
        _minhash_bands(_minhash_sig_table(spark, sf_dir))
        .groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket)
        .select(
            F.col("band_idx").cast("long").alias("band_idx"),
            "band_val",
            "bucket_n",
        )
        .orderBy("band_idx", "band_val")
    )


# --------------------------------------------------------------------------
# SimHash (64-bit, 4×16-bit bands) near-dup
# --------------------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16
_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1  # 0xFFFF
# Pigeonhole: ≤3 differing bits across 4 bands ⇒ at least one band identical,
# so equi-joins on band values find every qualifying pair.
HAMMING_MAX = 3

_N_NIBBLES = SIMHASH_BITS // 4  # 16 hex chars of md5(token)


def _hex_word_exprs_spark() -> list[str]:
    """Spark-side fast path: the 16 hex nibbles of md5(token) parsed as two
    32-bit words (hi = chars 1-8, lo = chars 9-16) via conv() — two string
    ops per token instead of sixteen. Bit extraction below indexes into
    these words exactly where the oracle's per-nibble arithmetic lands, so
    fingerprints are bit-identical across engines."""
    return [
        "CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT) AS hi",
        "CAST(conv(substr(md5(s), 9, 8), 16, 10) AS BIGINT) AS lo",
    ]


def _bit_sum_exprs_spark() -> list[str]:
    """64 per-bit contribution sums over the (hi, lo) hex words. Nibble p
    is hex char p+1 — the (7-p)th nibble of `hi` for p<8, else the
    (15-p)th of `lo` — matching conv()'s big-endian parse."""
    out = []
    for bit in range(SIMHASH_BITS):
        nib, pos = divmod(bit, 4)
        word, word_nib = ("hi", 7 - nib) if nib < 8 else ("lo", 15 - nib)
        shift = 4 * word_nib + pos
        out.append(f"sum(2 * (shiftright({word}, {shift}) & 1) - 1) AS b{bit}")
    return out


def _bit_sum_exprs(div_op: str) -> list[str]:
    """64 per-bit contribution sums: bit b lives in nibble b//4, position
    b%4; contribution is +1 when set, −1 when clear."""
    out = []
    for bit in range(SIMHASH_BITS):
        nib, pos = divmod(bit, 4)
        out.append(f"sum(2 * ((n{nib} {div_op} {2 ** pos}) % 2) - 1) AS b{bit}")
    return out


def _simhash_value_expr() -> str:
    """Signed 64-bit simhash from the 64 per-bit sign sums. Bit 63 is the
    sign bit — its term is MIN_LONG and comes FIRST so every left-to-right
    partial sum stays inside signed-64 range (DuckDB checks each addition)."""
    terms = ["(CASE WHEN b63 >= 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"]
    terms += [
        f"(CASE WHEN b{bit} >= 0 THEN {2 ** bit} ELSE 0 END)"
        for bit in range(SIMHASH_BITS - 1)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _band_expr(col: str, k: int) -> str:
    """Band k = bits [16k, 16k+16) of the signed-64 fingerprint (arithmetic
    shift then mask — sign-safe in both Spark and DuckDB)."""
    return f"(({col} >> {k * SIMHASH_BAND_BITS}) & {_BAND_MASK})"


def _simhash_oracle() -> str:
    nibbles = ",\n    ".join(
        f"(strpos('0123456789abcdef', substr(md5(s), {p + 1}, 1)) - 1) AS n{p}"
        for p in range(_N_NIBBLES)
    )
    bit_sums = ",\n    ".join(_bit_sum_exprs("//"))
    return f"""
WITH toks AS (
  SELECT doc_id,
         {_WS_TOKENS_DUCK} AS tokens
  FROM documents
),
ex AS (
  SELECT DISTINCT doc_id, unnest(tokens) AS s FROM toks WHERE len(tokens) >= 1
),
nib AS (
  SELECT doc_id, s,
    {nibbles}
  FROM ex
),
bitsum AS (
  SELECT doc_id,
    {bit_sums}
  FROM nib GROUP BY doc_id
)
SELECT doc_id, {_simhash_value_expr()} AS simhash
FROM bitsum
ORDER BY doc_id
"""


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) unsorted — shared by dedup_simhash and the pairs
    query so the pairs plan doesn't inherit a useless range-shuffle sort.

    Shuffle budget: ONE. Token dedupe is per-document, so it happens
    map-side with array_distinct BEFORE the explode (a (doc_id, token)
    ``distinct`` would be a second full shuffle of the token stream); the
    64 bit sums then partial-aggregate map-side and shuffle 64 ints per
    doc per partition."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens_col().alias("tokens")).filter(F.size("tokens") >= 1)
    ex = toks.select("doc_id", F.explode(F.array_distinct("tokens")).alias("s"))
    words = ex.selectExpr("doc_id", *_hex_word_exprs_spark())
    bitsum = words.groupBy("doc_id").agg(
        *[F.expr(e.split(" AS ")[0]).alias(e.split(" AS ")[1]) for e in _bit_sum_exprs_spark()]
    )
    return bitsum.selectExpr("doc_id", f"{_simhash_value_expr()} AS simhash")


@register("dedup_simhash", _simhash_oracle(), doc="64-bit SimHash per document")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: each distinct token votes ±1 per bit (from its md5 bits);
    the sign vector packs into one signed 64-bit integer. Near-dups then
    reduce to small-Hamming-distance pairs (see dedup_simhash_pairs).
    Single explode + single groupBy — one shuffle, 64 small int sums as
    state.
    """
    return _simhash_df(spark, sf_dir).orderBy("doc_id")


def _simhash_pairs_oracle() -> str:
    """Replays the band join INCLUDING the bucket cap: buckets over
    ``MAX_BAND_BUCKET`` contribute star pairs around their min doc_id
    instead of the full clique — the cap is part of the operator spec
    (it engages on the sf0.1 fixture's duplicate clusters), so the oracle
    must model it or the compare diverges exactly when the guard works."""
    base = _simhash_oracle().strip().removesuffix("ORDER BY doc_id").rstrip()
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {k} AS band_idx, {_band_expr('simhash', k)} AS band_val FROM hashes"
        for k in range(SIMHASH_BANDS)
    )
    return f"""
WITH hashes AS (
{base}
),
bands AS (
{band_rows}
),
{duck_capped_bucket_pairs("bands", ["band_idx", "band_val"], "doc_id", (), MAX_BAND_BUCKET)},
cand AS (
  SELECT DISTINCT doc_a, doc_b
  FROM (SELECT doc_a, doc_b FROM clique UNION ALL SELECT doc_a, doc_b FROM star)
)
SELECT
  c.doc_a,
  c.doc_b,
  CAST(bit_count(xor(ha.simhash, hb.simhash)) AS BIGINT) AS hamming
FROM cand c
JOIN hashes ha ON ha.doc_id = c.doc_a
JOIN hashes hb ON hb.doc_id = c.doc_b
WHERE bit_count(xor(ha.simhash, hb.simhash)) <= {HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


@register(
    "dedup_simhash_pairs",
    _simhash_pairs_oracle(),
    doc=f"SimHash pairs with Hamming ≤ {HAMMING_MAX} via 4×16-bit band blocking",
)
def dedup_simhash_pairs(
    spark: SparkSession, sf_dir: str, max_bucket: int = MAX_BAND_BUCKET
) -> DataFrame:
    """Pigeonhole blocking at scale: Hamming ≤ 3 on 64 bits split into 4
    bands of 16 ⇒ at least one band is identical — so every qualifying
    pair is found by ONE equi-join on (band_idx, band_val), never a cross
    join. Band keyspace is 4 × 2^16 (and widens with the fingerprint —
    128-bit/8-band is the same plan), so bucket occupancy, and with it
    candidate-pair count, scales with corpus size instead of collapsing
    into 256 fixed buckets."""
    # The fingerprint table feeds both sides of the band self-join;
    # materialize it once (64 bits + id per doc — tiny) instead of running
    # the explode + 64-sum aggregation twice. At cluster scale this is
    # "write the fingerprint table, then self-join it". Lazy persist, not
    # eager checkpoint (optimization r12): no build-time driver-blocking
    # job, columnar cache serves both sides; nothing needs a frozen plan.
    hashes = _simhash_df(spark, sf_dir).persist(CKPT_LEVEL)
    return (
        hamming_band_pairs(hashes, "simhash", max_bucket)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def hamming_band_pairs(hashes: DataFrame, hash_col: str, max_bucket: int) -> DataFrame:
    """(doc_a, doc_b, <hash_col>_a, <hash_col>_b, hamming): every pair of
    ``hashes`` rows (doc_id, signed 64-bit ``hash_col``) at Hamming
    distance ≤ ``HAMMING_MAX``, by the pigeonhole band join: each
    fingerprint explodes into its 4 16-bit bands, pairs come from the
    capped (band_idx, band_val) equi-join, and every candidate is
    verified with an exact ``bit_count``. Shared by SimHash text dedup
    and pHash payload dedup.

    Same adversarial-skew guard as the MinHash band join: over-cap
    buckets emit star pairs only, their fingerprints looked up in
    ``hashes`` (one row per doc). Every star pair still passes the
    Hamming verify, so emitted pairs are always correct; only clique
    completeness inside a degraded bucket is traded away. A doc pair can
    share several bands, hence the distinct."""
    bands = hashes.select(
        "doc_id",
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_idx"),
                        F.expr(_band_expr(hash_col, k)).alias("band_val"),
                    )
                    for k in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", hash_col, "band.band_idx", "band.band_val")
    cand = capped_bucket_pairs(
        bands, ["band_idx", "band_val"], "doc_id", (hash_col,), max_bucket, lookup=hashes
    ).distinct()
    return cand.withColumn(
        "hamming", F.expr(f"CAST(bit_count({hash_col}_a ^ {hash_col}_b) AS BIGINT)")
    ).filter(F.col("hamming") <= HAMMING_MAX)


# --------------------------------------------------------------------------
# Blocked n-gram Jaccard (no sketching — exact, with prefix blocking)
# --------------------------------------------------------------------------

#: The blocked-pairs → Jaccard-scored CTE chain, shared verbatim by the
#: ``dedup_ngram_jaccard`` oracle below and curation's
#: ``dedup_threshold_sensitivity`` oracle (which appends its own
#: threshold-grid CTE and final SELECT). A named constant — not a slice
#: of the finished SQL string — so a wording change here cannot silently
#: yield malformed downstream SQL (ADVICE r9).
NGRAM_SCORED_CTES = f"""{_SHINGLES_CTE},
hex AS (SELECT doc_id, md5(unnest(shingles)) AS m FROM sh),
hsets AS (
  SELECT doc_id, list_distinct(list({{HEX15}})) AS hset
  FROM hex GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, hset,
         md5(array_to_string(list_slice(list_sort(hset), 1, 3), '|')) AS block_key
  FROM hsets
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.hset AS sh_a, b.hset AS sh_b
  FROM blocks a
  JOIN blocks b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
),
scored AS (
  SELECT
    doc_a,
    doc_b,
    round(
      CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
      / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))),
      4
    ) AS jaccard
  FROM cand
)""".replace("{HEX15}", _duck_hex_int(1, 15))

_NGRAM_ORACLE = f"""
WITH {NGRAM_SCORED_CTES}
SELECT doc_a, doc_b, jaccard
FROM scored
WHERE jaccard >= 0.3
ORDER BY doc_a, doc_b
"""


@register("dedup_ngram_jaccard", _NGRAM_ORACLE, doc="exact n-gram Jaccard with min-hashed-shingle blocking")
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, max_bucket: int = MAX_BAND_BUCKET
) -> DataFrame:
    """Shingles are 60-bit hashes (8-byte longs, not ~24-byte strings —
    same payload win as dedup_minhash_lsh; both engines hash identically
    so the oracle matches exactly). Blocking key = hash of the 3 SMALLEST
    shingle hashes — three implicit minhash probes, so near-dup docs
    collide with high probability and the key distribution is uniform
    (unlike lexicographic prefixes, which cluster on boilerplate). One
    equi-join on the block key; exact Jaccard only inside blocks; blocks
    past the bucket cap degrade to star candidates
    (:func:`capped_bucket_pairs`), each still exact-Jaccard-verified."""
    hs = (
        shingles_exploded(spark, sf_dir)
        .withColumn("hs", F.expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)"))
        .groupBy("doc_id")
        .agg(F.collect_set("hs").alias("hset"))
    )
    # Both self-join sides read blocks; materialize once (otherwise AQE
    # may broadcast one side, losing exchange reuse and recomputing the
    # shingle→hash→agg chain twice). Lazy persist (optimization r12):
    # same one-materialization guarantee, no build-time blocking job.
    blocks = hs.withColumn(
        "block_key",
        F.md5(F.concat_ws("|", F.slice(F.array_sort("hset"), 1, 3).cast("array<string>"))),
    ).persist(CKPT_LEVEL)
    inter = F.size(F.array_intersect("hset_a", "hset_b"))
    union = F.size("hset_a") + F.size("hset_b") - inter
    return (
        capped_bucket_pairs(blocks, ["block_key"], "doc_id", ("hset",), max_bucket)
        .select("doc_a", "doc_b", F.round(inter.cast("double") / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Corpus duplication report (per-source observability)
# --------------------------------------------------------------------------

_DUP_REPORT_ORACLE = rf"""
WITH fp AS (
  SELECT source,
         md5({_NORMALIZED_DUCK}) AS fingerprint
  FROM documents
)
SELECT
  source,
  count(*) AS n_docs,
  CAST(count(DISTINCT fingerprint) AS BIGINT) AS n_unique,
  round(1 - CAST(count(DISTINCT fingerprint) AS DOUBLE) / count(*), 4) AS dup_rate
FROM fp
GROUP BY source
ORDER BY source
"""


@register(
    "corpus_dup_report",
    _DUP_REPORT_ORACLE,
    doc="per-source exact-duplication rate (corpus observability)",
)
def corpus_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitoring twin of dedup_exact: per ingestion source, how much
    of the corpus is exact-duplicate? Drives source weighting and crawl
    triage. One distinct-aggregate shuffle of (source, 16-byte hash) —
    text never shuffles; Catalyst plans count(DISTINCT) as the standard
    two-phase expand aggregate."""
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(normalized_text())
    return (
        docs.select("source", fp.alias("fingerprint"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            F.round(1 - F.col("n_unique").cast("double") / F.col("n_docs"), 4).alias("dup_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Cross-document span overlap (per-source contamination observability)
# --------------------------------------------------------------------------

_SPAN_OVERLAP_ORACLE = f"""
WITH {_SHINGLES_CTE},
ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hashed AS (SELECT doc_id, md5(s) AS m FROM ex0),
ex AS (SELECT DISTINCT doc_id, {_duck_hex_int(1, 15)} AS hs FROM hashed),
cnt AS (SELECT hs, count(*) AS n_docs_with FROM ex GROUP BY hs),
perdoc AS (
  SELECT e.doc_id,
         count(*) AS n_sh,
         count(CASE WHEN c.n_docs_with >= 2 THEN 1 END) AS n_shared
  FROM ex e JOIN cnt c USING (hs)
  GROUP BY e.doc_id
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(CAST(n_shared AS DOUBLE) / n_sh), 4) AS avg_shared_frac,
       CAST(count(CASE WHEN n_shared * 2 > n_sh THEN 1 END) AS BIGINT) AS n_heavy
FROM perdoc p JOIN documents d USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


@register(
    "corpus_span_overlap",
    _SPAN_OVERLAP_ORACLE,
    doc="per-source fraction of word-3-gram spans shared across documents",
)
def corpus_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span duplication, the signal behind span-level dedup
    (Dolma/RefinedWeb-style): for every document, the fraction of its
    DISTINCT word-3-gram shingles that also appear in at least one other
    document; rolled up per ingestion source (mean fraction + count of
    docs that are >50% shared spans — boilerplate / template farms).

    Scale shape: shingles are 60-bit hashes (longs, not strings), and the
    ORACLE hashes identically (md5 hex → int, `_duck_hex_int`), so both
    engines share one keyspace and the compare is bit-exact even if a
    collision occurs — a collision merely merges the same two shingles on
    both sides (within-corpus rate ~n²/2^61, same tolerance as
    dedup_minhash_lsh). The docs-per-shingle count
    is a WINDOW over the shingle key rather than a groupBy + self-join,
    so the shingle lineage is computed ONCE and never joined against
    itself. Shuffles: distinct (doc, shingle), window repartition by
    shingle, per-doc aggregate, doc_id join to the docs table, source
    rollup — all equi-keyed, no self-join, no recompute."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    ex = (
        shingles_exploded(spark, sf_dir)
        .select("doc_id", F.expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)").alias("hs"))
        .distinct()
    )
    w = Window.partitionBy("hs")
    per_doc = (
        ex.withColumn("n_docs_with", F.count(F.lit(1)).over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count(F.when(F.col("n_docs_with") >= 2, 1)).alias("n_shared"),
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col("n_shared").cast("double") / F.col("n_sh")), 4).alias("avg_shared_frac"),
            F.count(F.when(F.col("n_shared") * 2 > F.col("n_sh"), 1)).alias("n_heavy"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Paragraph-level exact dedup (Dolma-style span removal)
# --------------------------------------------------------------------------

_PARA_WORDS = 8

_PARA_DEDUP_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, source,
         {_WS_TOKENS_DUCK} AS tk
  FROM documents
), blocks AS (
  SELECT t.doc_id, t.source, b.b_idx,
         array_to_string(list_slice(t.tk, b.b_idx * {_PARA_WORDS} + 1,
                                    b.b_idx * {_PARA_WORDS} + {_PARA_WORDS}), ' ') AS para
  FROM toks t,
       LATERAL (SELECT unnest(range(CAST(ceil(len(t.tk) / {_PARA_WORDS}.0) AS BIGINT))) AS b_idx) b
  WHERE len(t.tk) > 0
), inst AS (
  SELECT doc_id, source, b_idx, md5(para) AS h, length(para) AS n_chars,
         row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, b_idx) AS rn
  FROM blocks
)
SELECT source,
       CAST(count(*) AS BIGINT)                                   AS n_paras,
       CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT)         AS n_dup_paras,
       CAST(coalesce(sum(CASE WHEN rn > 1 THEN n_chars END), 0) AS BIGINT) AS chars_removed,
       CAST(count(DISTINCT CASE WHEN rn > 1 THEN doc_id END) AS BIGINT)    AS docs_affected
FROM inst
GROUP BY source
ORDER BY source
"""


@register(
    "paragraph_dedup",
    _PARA_DEDUP_ORACLE,
    doc="Dolma-style paragraph-level exact dedup: per-source removal stats",
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (the span-removal pass Dolma and
    RefinedWeb run corpus-wide): documents are segmented into fixed
    8-token paragraphs (the fixture text has no newlines; on real data
    the splitter is ``split(text, '\\n\\n')`` with the SAME downstream
    plan), each paragraph is keyed by its md5, and every instance after
    the first global occurrence — first = smallest (doc_id, position) —
    is removed. Reports per-source removal stats.

    Scale shape: the paragraph TEXT never shuffles — instances are
    reduced to (hash, doc_id, position, length) before the window, so
    shuffle payload is ~40 bytes per paragraph regardless of paragraph
    size. Keeper selection is row_number() over the hash key (keyspace =
    distinct paragraphs, grows with the corpus — no single-task window),
    then one aggregate by source. Two equi-shuffles total, no self-join,
    no doc re-scan."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", _tokens_col().alias("tk")
    )
    p = _PARA_WORDS
    blocks = (
        docs.where(F.size("tk") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.expr(f"sequence(0, int(ceil(size(tk) / {p}.0)) - 1)")).alias("b_idx"),
            F.col("tk"),
        )
        .select(
            "doc_id",
            "source",
            "b_idx",
            F.concat_ws(" ", F.slice(F.col("tk"), F.col("b_idx") * p + 1, p)).alias("para"),
        )
    )
    inst = blocks.select(
        "doc_id", "source", "b_idx", F.md5("para").alias("h"), F.length("para").alias("n_chars")
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(Window.partitionBy("h").orderBy("doc_id", "b_idx"))
    flagged = inst.withColumn("rn", rn)
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.count(F.when(F.col("rn") > 1, 1)).alias("n_dup_paras"),
            F.coalesce(F.sum(F.when(F.col("rn") > 1, F.col("n_chars"))), F.lit(0)).alias("chars_removed"),
            F.countDistinct(F.when(F.col("rn") > 1, F.col("doc_id"))).alias("docs_affected"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Asymmetric containment pairs (sub-document duplication)
# --------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.5
CONTAINMENT_DF_CAP = 16  # max docs per shingle admitted to pair generation

_CONTAINMENT_ORACLE = f"""
WITH {_SHINGLES_CTE},
hex AS (SELECT doc_id, md5(unnest(shingles)) AS m FROM sh),
inst AS (SELECT DISTINCT doc_id, {{HEX15}} AS hs FROM hex),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM inst GROUP BY doc_id),
keyed AS (
  SELECT hs, list(doc_id ORDER BY doc_id) AS docs
  FROM inst GROUP BY hs HAVING count(*) BETWEEN 2 AND {CONTAINMENT_DF_CAP}
),
pairs AS (
  SELECT a.d AS doc_a, b.d AS doc_b, count(*) AS n_shared
  FROM keyed, LATERAL unnest(docs) AS a(d), LATERAL unnest(docs) AS b(d)
  WHERE a.d < b.d GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, CAST(p.n_shared AS BIGINT) AS n_shared,
  round(CAST(p.n_shared AS DOUBLE) / least(sa.n_sh, sb.n_sh), 4) AS containment
FROM pairs p JOIN sizes sa ON sa.doc_id = p.doc_a JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE CAST(p.n_shared AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
""".replace("{HEX15}", _duck_hex_int(1, 15))


@register(
    "dedup_containment_pairs",
    _CONTAINMENT_ORACLE,
    doc=f"asymmetric containment pairs (|A∩B|/min ≥ {CONTAINMENT_THRESHOLD}) via df-capped inverted index",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dups: |A∩B| / min(|A|, |B|) — the ASYMMETRIC
    overlap measure that catches sub-document duplication (a quoted
    article inside a longer page, a template wrapping real content)
    which Jaccard structurally misses: a 100-shingle doc fully inside a
    10 000-shingle doc has Jaccard ≈ 0.01 but containment 1.0.

    MinHash bands can't generate containment candidates (the small side's
    signature is swamped by the big side's), so candidates come from the
    inverted index itself: docs-per-shingle is counted with a WINDOW over
    the hashed shingle key (shingle lineage computed once — the same
    no-self-join shape as corpus_span_overlap) and shingles shared by
    more than {CONTAINMENT_DF_CAP} docs are dropped BEFORE the bounded
    collect_set — they're boilerplate that contributes one unit of
    intersection but O(df²) pairs. Pair fan-out per shingle is therefore
    ≤ C({CONTAINMENT_DF_CAP},2), so the explode is linear in the corpus;
    the df cap is part of the spec and the oracle replays it (a
    production run logs the dropped-shingle count alongside, as
    dedup_band_spill_report does for band buckets). Intersection sizes
    come from one groupBy (doc_a, doc_b); the two size joins are
    equi-joins on doc id."""
    from pyspark.sql.window import Window

    # Call-time import: graph imports this module at load.
    from gluettalax_spark.operators.graph import explode_pairs

    ex = (
        shingles_exploded(spark, sf_dir)
        .select("doc_id", F.expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)").alias("hs"))
        .distinct()
    )
    ex = ex.persist(CKPT_LEVEL)  # sizes + inverted index share the scan
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    w = Window.partitionBy("hs")
    keyed = (
        ex.withColumn("df", F.count(F.lit(1)).over(w))
        .filter((F.col("df") >= 2) & (F.col("df") <= CONTAINMENT_DF_CAP))
        .groupBy("hs")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
    )
    pairs = (
        explode_pairs(keyed, "docs", "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    cont = F.col("n_shared").cast("double") / F.least("n_a", "n_b")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select("doc_a", "doc_b", "n_shared", F.round(cont, 4).alias("containment"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# MinHash sketch-accuracy audit (estimated vs true Jaccard)
# --------------------------------------------------------------------------


def _minhash_accuracy_oracle() -> str:
    matches = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
    )
    return f"""
WITH {_DUCK_HASHED_CTES},
ints AS (
  SELECT doc_id,
         {_duck_hex_int(1)} AS h1,
         {_duck_hex_int(9)} AS h2,
         {_duck_hex_int(1, 15)} AS hs
  FROM hashed
),
sigs AS MATERIALIZED (
  SELECT doc_id,
    {_DUCK_SIG_COLS}
  FROM ints GROUP BY doc_id
),
sets AS MATERIALIZED (
  SELECT doc_id, list_distinct(list(hs)) AS hset FROM ints GROUP BY doc_id
),
bands AS MATERIALIZED (
{_duck_band_rows()}
),
over_cap AS (
  SELECT band_idx, band_val FROM bands
  GROUP BY 1, 2 HAVING count(*) > {MAX_BAND_BUCKET}
),
kept AS (
  SELECT b.* FROM bands b
  LEFT JOIN over_cap o ON o.band_idx = b.band_idx AND o.band_val = b.band_val
  WHERE o.band_val IS NULL
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM kept a JOIN kept b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
scored AS (
  SELECT ({matches}) * 62500 AS est_ppm,
         CAST(len(list_intersect(x.hset, y.hset)) * 1000000
              // (len(x.hset) + len(y.hset) - len(list_intersect(x.hset, y.hset)))
              AS BIGINT) AS true_ppm
  FROM cand
  JOIN sigs sa ON sa.doc_id = cand.da
  JOIN sigs sb ON sb.doc_id = cand.db
  JOIN sets x ON x.doc_id = cand.da
  JOIN sets y ON y.doc_id = cand.db
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(abs(est_ppm - true_ppm)) // nullif(count(*), 0) AS BIGINT) AS mae_ppm,
       CAST((sum(est_ppm) - sum(true_ppm)) // nullif(count(*), 0) AS BIGINT) AS bias_ppm,
       CAST(max(abs(est_ppm - true_ppm)) AS BIGINT) AS max_err_ppm,
       CAST(sum(true_ppm) // nullif(count(*), 0) AS BIGINT) AS mean_true_ppm
FROM scored
"""


@register(
    "dedup_minhash_accuracy",
    _minhash_accuracy_oracle(),
    doc=f"MinHash({N_HASHES}) estimator accuracy vs true Jaccard on LSH candidate pairs (integer ppm)",
)
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit for the MinHash dedup family: over the LSH
    candidate pairs, compare the signature-agreement Jaccard ESTIMATE
    (matching components / {N_HASHES}, the Broder estimator) against
    the TRUE Jaccard of the hashed shingle sets — MAE, signed bias, and
    worst error, all in integer ppm. The bias on LSH-SELECTED pairs is
    structural and is the point of the audit: a candidate needs at
    least one full matching band, so its estimate is >= 1/N_BANDS even
    when true similarity is low — this op puts a NUMBER on how much the
    banding inflates the estimator at the configured (bands, rows)
    operating point, which is what you check before trusting an
    estimate-based dedup threshold instead of the exact verify join.

    Exactness: signatures, band keys, and the 60-bit shingle-hash sets
    are the md5-deterministic constructions the oracle replays
    bit-for-bit (shared with `dedup_minhash_lsh`); the estimate is
    matches*62500, truth is integer-div ppm, so every reported stat is
    an exact int64. The band-bucket cap is replayed in the oracle as a
    bucket-size HAVING filter (the round-5 cap lesson — never let a
    skew guard silently narrow the contract).

    Scale shape: identical to `dedup_minhash_lsh` — one shuffle builds
    signatures AND shingle sets, candidates come from the capped band
    equi-join, and the audit itself folds to ONE row. Text never
    shuffles."""
    sigs = _minhash_sigs(spark, sf_dir)
    # The oracle drops over-cap buckets and makes no star pairs.
    kept, _star = _cap_band_buckets(
        _minhash_bands(sigs), ["band_idx", "band_val"], "doc_id", MAX_BAND_BUCKET
    )
    cand = bucket_clique(kept, ["band_idx", "band_val"], "doc_id").distinct()
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(N_HASHES)],
        F.col("shingles").alias("ha"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(N_HASHES)],
        F.col("shingles").alias("hb"),
    )
    matches = " + ".join(
        f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
    )
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.expr(f"CAST(({matches}) * 62500 AS BIGINT)").alias("est_ppm"),
            F.expr(
                "CAST(size(array_intersect(ha, hb)) * 1000000L"
                " div (size(ha) + size(hb) - size(array_intersect(ha, hb))) AS BIGINT)"
            ).alias("true_ppm"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("sum(abs(est_ppm - true_ppm)) div nullif(count(1), 0)").alias("mae_ppm"),
        F.expr("(sum(est_ppm) - sum(true_ppm)) div nullif(count(1), 0)").alias("bias_ppm"),
        F.max(F.abs(F.col("est_ppm") - F.col("true_ppm"))).cast("long").alias("max_err_ppm"),
        F.expr("sum(true_ppm) div nullif(count(1), 0)").alias("mean_true_ppm"),
    )


# --------------------------------------------------------------------------
# N-gram novelty decay (corpus-growth observability)
# --------------------------------------------------------------------------

_NOVELTY_BUCKETS = 10

_NOVELTY_ORACLE = f"""
WITH {_SHINGLES_CTE},
ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hashed AS (SELECT doc_id, md5(s) AS m FROM ex0),
ex AS (SELECT DISTINCT doc_id, {_duck_hex_int(1, 15)} AS hs FROM hashed),
firsts AS (
  SELECT doc_id, hs,
         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY hs) THEN 1 ELSE 0 END AS novel
  FROM ex
),
perdoc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_sh,
         CAST(sum(novel) AS BIGINT) AS n_novel
  FROM firsts GROUP BY doc_id
),
bounds AS (
  SELECT CAST(min(doc_id) AS BIGINT) AS lo,
         CAST(max(doc_id) - min(doc_id) + 1 AS BIGINT) AS span
  FROM documents
)
SELECT CAST({_NOVELTY_BUCKETS} * (p.doc_id - b.lo) // b.span AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_sh) AS BIGINT) AS n_shingles,
       CAST(sum(n_novel) AS BIGINT) AS n_novel,
       CAST(CAST(sum(n_novel) AS HUGEINT) * 1000000 // sum(n_sh) AS BIGINT) AS novelty_ppm
FROM perdoc p, bounds b
GROUP BY 1
ORDER BY bucket
"""


@register(
    "text_ngram_novelty_decay",
    _NOVELTY_ORACLE,
    doc="fraction of first-seen word-3-grams per doc-id decile (novelty decay curve)",
)
def text_ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty decay: for each doc-id decile (ingestion-order proxy), the
    fraction of its word-3-gram instances whose FIRST corpus occurrence
    is in that document. The memorization/contamination observability
    curve — on a growing crawl, novelty decays as the n-gram space
    saturates (the same statistic Heaps' law models at the token level,
    `text_heaps_law_fit`); a bucket that spikes back up marks a
    distribution shift, one that collapses marks a duplication event.

    Exactness: shingles share the 60-bit md5 keyspace with
    `corpus_span_overlap` (bit-exact compare even under collisions);
    "first occurrence" is min(doc_id) per shingle — deterministic, no
    timestamp needed; the per-bucket rate is ONE floor division of exact
    counts in ppm. Deciles are id-RANGE buckets (exact integer div), not
    rank buckets, so the bucketing is join-free at any scale.

    Scale: one distinct (doc, shingle) shuffle, one window over the
    shingle key (computed once, never self-joined — the span-overlap
    shape), one doc-grain aggregate, one 10-row rollup."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    ex = (
        shingles_exploded(spark, sf_dir)
        .select("doc_id", F.expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)").alias("hs"))
        .distinct()
    )
    w = Window.partitionBy("hs")
    per_doc = (
        ex.withColumn("first_doc", F.min("doc_id").over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sh"),
            F.sum(F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    bounds = docs.agg(
        F.min("doc_id").cast("long").alias("lo"),
        (F.max("doc_id") - F.min("doc_id") + 1).cast("long").alias("span"),
    )
    return (
        per_doc.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.expr(f"CAST({_NOVELTY_BUCKETS} * (doc_id - lo) div span AS BIGINT)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_sh").cast("long").alias("n_shingles"),
            F.sum("n_novel").cast("long").alias("n_novel"),
            F.expr(
                "CAST(CAST(sum(n_novel) AS DECIMAL(38,0)) * 1000000 div sum(n_sh) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# SimHash bit-balance audit (fingerprint health observability)
# --------------------------------------------------------------------------


def _bit_balance_oracle() -> str:
    nibbles = ",\n    ".join(
        f"(strpos('0123456789abcdef', substr(md5(s), {p + 1}, 1)) - 1) AS n{p}"
        for p in range(_N_NIBBLES)
    )
    bit_sums = ",\n    ".join(_bit_sum_exprs("//"))
    return f"""
WITH toks AS (
  SELECT doc_id,
         {_WS_TOKENS_DUCK} AS tokens
  FROM documents
),
ex AS (
  SELECT DISTINCT doc_id, unnest(tokens) AS s FROM toks WHERE len(tokens) >= 1
),
nib AS (
  SELECT doc_id, s,
    {nibbles}
  FROM ex
),
bitsum AS (
  SELECT doc_id,
    {bit_sums}
  FROM nib GROUP BY doc_id
),
fp AS (SELECT doc_id, {_simhash_value_expr()} AS simhash FROM bitsum),
bits AS (
  SELECT b.bit, ((fp.simhash >> CAST(b.bit AS INTEGER)) & 1) AS v
  FROM fp, (SELECT unnest(range(0, {SIMHASH_BITS})) AS bit) b
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM fp)
SELECT CAST(bits.bit AS BIGINT) AS bit,
       CAST(sum(v) AS BIGINT) AS n_set,
       CAST(CAST(sum(v) AS HUGEINT) * 1000000 // any_value(tot.n_docs) AS BIGINT) AS set_ppm,
       CAST(abs(CAST(sum(v) AS HUGEINT) * 1000000 // any_value(tot.n_docs) - 500000) AS BIGINT)
         AS dev_ppm
FROM bits, tot
GROUP BY bits.bit
ORDER BY bit
"""


@register(
    "text_simhash_bit_balance",
    _bit_balance_oracle(),
    doc="per-bit set rate of the corpus SimHash fingerprints (banding-health audit)",
)
def text_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint health: the per-bit set rate across corpus
    fingerprints. The banding recall math of `dedup_simhash_pairs`
    assumes each bit is an unbiased coin for unrelated docs — a bit
    stuck near 0 or 1 (hash bias, degenerate token mix, or a bug in the
    bit packing) silently collapses band cardinality and floods buckets.
    This is the audit a dedup pipeline alerts on, next to
    `dedup_band_spill_report`. (The synthetic fixture trips it by
    design: documents draw from one shared vocabulary, so per-bit votes
    are correlated across docs and many bits sit far from 50% — the
    precise condition under which band buckets go hot.)

    Exactness: bits extract from the shared signed-64 fingerprint with
    the arithmetic-shift-and-mask form (sign-safe both engines); rates
    are single floor divisions in ppm.

    Scale: the fingerprint pass is the shared one-shuffle `_simhash_df`;
    the bit explode is a map-side 64x fan-out of (bit, 0/1) ints that
    partial-aggregates to 64 groups."""
    fp = _simhash_df(spark, sf_dir)
    bits = fp.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BITS - 1}),"
                " b -> struct(CAST(b AS BIGINT) AS bit,"
                " CAST(shiftright(simhash, b) & 1 AS BIGINT) AS v))"
            )
        ).alias("e")
    ).select("e.bit", "e.v")
    tot = fp.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        bits.crossJoin(F.broadcast(tot))
        .groupBy("bit")
        .agg(
            F.sum("v").cast("long").alias("n_set"),
            F.expr(
                "CAST(CAST(sum(v) AS DECIMAL(38,0)) * 1000000"
                " div any_value(n_docs) AS BIGINT)"
            ).alias("set_ppm"),
            F.expr(
                "CAST(abs(CAST(sum(v) AS DECIMAL(38,0)) * 1000000"
                " div any_value(n_docs) - 500000) AS BIGINT)"
            ).alias("dev_ppm"),
        )
        .orderBy("bit")
    )


# --------------------------------------------------------------------------
# Duplicate-cluster size histogram (dedup observability)
# --------------------------------------------------------------------------

_CLUSTER_HIST_ORACLE = rf"""
WITH fp AS (
  SELECT doc_id, md5({_NORMALIZED_DUCK}) AS fingerprint
  FROM documents
),
clusters AS (
  SELECT fingerprint, CAST(count(*) AS BIGINT) AS sz FROM fp GROUP BY fingerprint
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM fp)
SELECT sz AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sz * count(*) AS BIGINT) AS n_docs,
       CAST((sz - 1) * count(*) AS BIGINT) AS n_removable,
       CAST(CAST(sz * count(*) AS HUGEINT) * 1000000 // any_value(tot.n_docs) AS BIGINT)
         AS docs_share_ppm
FROM clusters, tot
GROUP BY sz
ORDER BY sz
"""


@register(
    "dedup_cluster_histogram",
    _CLUSTER_HIST_ORACLE,
    doc="exact-duplicate cluster-size histogram (docs and removable counts per size)",
)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster SIZE DISTRIBUTION for the exact-dedup pass —
    the observability readout behind every dedup run: how many
    singletons (size 1 = unique docs), how many small clusters, and
    whether a mega-cluster exists (one boilerplate page crawled a
    million times — the case that melts pair-generation unless capped).
    `n_removable` per size row sums to exactly the doc count the EXACT
    dedup pass drops (docs minus distinct fingerprints — NOT the larger
    near-dup removal of `dedup_filter_corpus`); the unit test pins it.

    Exactness: same whitespace-normalized md5 fingerprint as
    `dedup_exact` (one spec, two views of it); all counts and the ppm
    share are exact integers.

    Scale: one data-scale groupBy(fingerprint), then a histogram over
    cluster sizes (bounded by max multiplicity) — the shape never
    materializes pairs, which is the point of auditing BEFORE pairing."""
    docs = load(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(normalized_text()).alias("fingerprint"),
    )
    clusters = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    tot = fp.agg(F.count(F.lit(1)).cast("long").alias("n_docs_tot"))
    return (
        clusters.groupBy("sz")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "sz AS cluster_size",
            "n_clusters",
            "CAST(sz * n_clusters AS BIGINT) AS n_docs",
            "CAST((sz - 1) * n_clusters AS BIGINT) AS n_removable",
            "CAST(CAST(sz * n_clusters AS DECIMAL(38,0)) * 1000000"
            " div n_docs_tot AS BIGINT) AS docs_share_ppm",
        )
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# IDF-weighted Jaccard: which near-dup pairs are boilerplate-only matches?
# --------------------------------------------------------------------------

_WJ_ORACLE = f"""
WITH {NGRAM_SCORED_CTES},
cand_pairs AS (SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.3),
ds AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
df AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM ds GROUP BY s),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM ds),
w AS (
  SELECT s, CAST(round(1000000 * ln(CAST(n_docs AS DOUBLE) / df)) AS BIGINT) AS w_micro
  FROM df, nd
),
docw AS (
  SELECT doc_id, CAST(sum(w_micro) AS BIGINT) AS w_total
  FROM ds JOIN w USING (s) GROUP BY doc_id
),
inter AS (
  SELECT p.doc_a, p.doc_b, CAST(sum(w.w_micro) AS BIGINT) AS w_inter
  FROM cand_pairs p
  JOIN ds a ON a.doc_id = p.doc_a
  JOIN ds b ON b.doc_id = p.doc_b AND b.s = a.s
  JOIN w ON w.s = a.s
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b, p.jaccard,
       round(CAST(i.w_inter AS DOUBLE)
             / (wa.w_total + wb.w_total - i.w_inter), 4) AS w_jaccard,
       i.w_inter AS w_inter_micro,
       CAST(wa.w_total + wb.w_total - i.w_inter AS BIGINT) AS w_union_micro
FROM cand_pairs p
JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN docw wa ON wa.doc_id = p.doc_a
JOIN docw wb ON wb.doc_id = p.doc_b
ORDER BY p.doc_a, p.doc_b
"""


@register(
    "dedup_weighted_jaccard",
    _WJ_ORACLE,
    doc="IDF-weighted Jaccard rescoring of the blocked near-dup pairs "
    "(boilerplate-overlap detector)",
)
def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted Jaccard cannot tell a true near-duplicate from two
    documents that merely share boilerplate: re-score every
    `dedup_ngram_jaccard` candidate pair with IDF-weighted Jaccard
    (Σ weights of shared shingles over Σ weights of the union,
    w = ln(N/df)). A pair whose w_jaccard sits far BELOW its jaccard
    overlaps mostly in corpus-common shingles — the pairs a curation
    run keeps rather than dedups. The standard refinement step between
    candidate generation and the delete list.

    Exactness: shingle weights quantize to integer micro-units
    (round(1e6·ln(N/df)) — ln is the accepted libm boundary, the
    `_MI_TERM` discipline); per-doc and per-pair weight sums are exact
    int64 folds, order-independent; w_jaccard is one IEEE division
    rounded at 4 dp.

    Scale: candidates come from the SAME banded blocking as the ngram
    op (nothing new is quadratic); df/weights live on the shingle
    dictionary; the intersection sum joins the bounded pair list back
    to doc-keyed shingles via equi-joins — the pair list broadcasts,
    the shingle table shuffles once on doc_id."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    pairs = pairs.persist(CKPT_LEVEL)  # bounded near-dup list, reused 2x
    ds = shingles_exploded(spark, sf_dir).distinct()
    ds = ds.persist(CKPT_LEVEL)  # feeds df, docw, and both pair sides
    nd = ds.select("doc_id").distinct().agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = (
        ds.groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .crossJoin(F.broadcast(nd))
        .selectExpr(
            "s",
            "CAST(round(1000000 * ln(CAST(n_docs AS DOUBLE) / df)) AS BIGINT) AS w_micro",
        )
    )
    dsw = ds.join(w, "s")
    dsw = dsw.persist(CKPT_LEVEL)  # weighted shingles feed docw AND inter
    docw = dsw.groupBy("doc_id").agg(F.sum("w_micro").cast("long").alias("w_total"))
    a = dsw.join(
        F.broadcast(pairs.select("doc_a", "doc_b")),
        dsw["doc_id"] == F.col("doc_a"),
    ).select("doc_a", "doc_b", "s", "w_micro")
    b = dsw.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = (
        a.join(b, (a["doc_b"] == b["doc_b"]) & (a["s"] == b["s_b"]))
        .groupBy("doc_a", a["doc_b"])
        .agg(F.sum("w_micro").cast("long").alias("w_inter"))
    )
    wa = docw.select(F.col("doc_id").alias("doc_a"), F.col("w_total").alias("w_a"))
    wb = docw.select(F.col("doc_id").alias("doc_b"), F.col("w_total").alias("w_b"))
    return (
        pairs.join(inter, ["doc_a", "doc_b"])
        .join(wa, "doc_a")
        .join(wb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "jaccard",
            "round(CAST(w_inter AS DOUBLE) / (w_a + w_b - w_inter), 4) AS w_jaccard",
            "w_inter AS w_inter_micro",
            "CAST(w_a + w_b - w_inter AS BIGINT) AS w_union_micro",
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# LSH band-configuration sweep: the (bands × rows) S-curve tuning table
# --------------------------------------------------------------------------

#: (n_bands, rows_per_band) splits of the same 16 min-hashes. Few wide
#: bands (2×8) = high precision / low recall; many narrow bands (8×2)
#: = the opposite — the classic S-curve trade every LSH deployment
#: tunes before fixing its config.
_SWEEP_CONFIGS = ((2, 8), (4, 4), (8, 2))


def _band_sweep_oracle() -> str:
    band_rows = "\n  UNION ALL\n".join(
        _duck_band_rows(nb, rpb, f"'b{nb}r{rpb}' AS cfg, ") for nb, rpb in _SWEEP_CONFIGS
    )
    cfg_rows = " UNION ALL ".join(
        f"SELECT 'b{nb}r{rpb}' AS cfg, CAST({nb} AS BIGINT) AS n_bands,"
        f" CAST({rpb} AS BIGINT) AS rows_per_band"
        for nb, rpb in _SWEEP_CONFIGS
    )
    return f"""
WITH {_DUCK_SIGS_CTES},
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.cfg, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.cfg = b.cfg AND a.band_idx = b.band_idx
              AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
ver AS (
  SELECT c.cfg, c.doc_a, c.doc_b,
         CASE WHEN CAST(len(list_intersect(x.hset, y.hset)) AS DOUBLE)
                   / (len(x.hset) + len(y.hset) - len(list_intersect(x.hset, y.hset)))
                >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END AS is_dup
  FROM cand c
  JOIN sigs x ON c.doc_a = x.doc_id
  JOIN sigs y ON c.doc_b = y.doc_id
),
truth AS (
  SELECT CAST(count(*) AS BIGINT) AS n_union
  FROM (SELECT DISTINCT doc_a, doc_b FROM ver WHERE is_dup = 1)
),
cfgs AS ({cfg_rows}),
per_cfg AS (
  SELECT cfg,
         CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(sum(is_dup) AS BIGINT) AS n_verified
  FROM ver GROUP BY cfg
)
SELECT cfgs.cfg, cfgs.n_bands, cfgs.rows_per_band,
       coalesce(p.n_candidates, 0) AS n_candidates,
       coalesce(p.n_verified, 0) AS n_verified,
       truth.n_union,
       CAST(coalesce(p.n_verified, 0) * 1000000 // greatest(p.n_candidates, 1) AS BIGINT)
         AS precision_ppm,
       CAST(coalesce(p.n_verified, 0) * 1000000 // greatest(truth.n_union, 1) AS BIGINT)
         AS recall_ppm
FROM cfgs LEFT JOIN per_cfg p ON p.cfg = cfgs.cfg CROSS JOIN truth
ORDER BY cfgs.cfg
"""


@register(
    "dedup_band_sweep",
    _band_sweep_oracle(),
    doc="LSH S-curve tuning table: candidate/verified pair counts at 2x8, 4x4, 8x2 bands",
)
def dedup_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE table every MinHash deployment tunes from: the same 16
    signatures split as 2 bands×8 rows, 4×4, and 8×2, with candidate
    volume (the cost), verified near-dup pairs (the catch), and
    precision/recall against the union of verified pairs across
    configurations. Few wide bands miss borderline pairs; many narrow
    bands pay collision candidates — `dedup_minhash_lsh` runs the 4×4
    point, this op justifies it (the dedup-side sibling of
    `similarity_ann_recall_curve`).

    Exactness: both engines hash identically (md5-derived integer
    min-hashes), candidates are DISTINCT integer pairs, verification is
    exact Jaccard on the hashed shingle sets, and all ratios are
    integer ppm.

    Scale: ONE signature pass (shared with the production op via
    `_minhash_sigs`) serves all three band explodes; candidates per
    config come from the same narrow md5-key equi-join; Σ bands = 14
    rows per doc vs the production 4 — bounded instrumentation
    overhead, not a new asymptotic."""
    sigs = _minhash_sigs(spark, sf_dir)
    bands = None
    for nb, rpb in _SWEEP_CONFIGS:
        b = _minhash_bands(sigs, nb, rpb).select(
            "doc_id", F.lit(f"b{nb}r{rpb}").alias("cfg"), "band_idx", "band_val"
        )
        bands = b if bands is None else bands.unionAll(b)
    a, bb = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.cfg") == F.col("b.cfg"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.cfg").alias("cfg"), F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sigs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    y = sigs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    ver = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "cfg",
            "doc_a",
            "doc_b",
            F.when(
                inter.cast("double") / union >= JACCARD_THRESHOLD, 1
            ).otherwise(0).alias("is_dup"),
        )
    )
    ver = ver.persist(CKPT_LEVEL)  # feeds per-cfg counts AND the union truth
    truth = (
        ver.filter(F.col("is_dup") == 1)
        .select("doc_a", "doc_b")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_union"))
    )
    per_cfg = ver.groupBy("cfg").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum("is_dup").cast("long").alias("n_verified"),
    )
    cfgs = spark.createDataFrame(
        [(f"b{nb}r{rpb}", nb, rpb) for nb, rpb in _SWEEP_CONFIGS],
        "cfg string, n_bands long, rows_per_band long",
    )
    return (
        F.broadcast(cfgs)
        .join(per_cfg, "cfg", "left")
        .fillna(0, ["n_candidates", "n_verified"])
        .crossJoin(F.broadcast(truth))
        .selectExpr(
            "cfg",
            "n_bands",
            "rows_per_band",
            "n_candidates",
            "n_verified",
            "n_union",
            "CAST(n_verified * 1000000 DIV greatest(n_candidates, 1) AS BIGINT)"
            " AS precision_ppm",
            "CAST(n_verified * 1000000 DIV greatest(n_union, 1) AS BIGINT) AS recall_ppm",
        )
        .orderBy("cfg")
    )


# --------------------------------------------------------------------------
# Storage savings of exact dedup, per source
# --------------------------------------------------------------------------

_SAVINGS_ORACLE = rf"""
WITH f AS (
  SELECT doc_id, source, n_chars,
         md5({_NORMALIZED_DUCK}) AS fp
  FROM documents
),
k AS (SELECT fp, min(doc_id) AS keeper FROM f GROUP BY fp)
SELECT f.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN f.doc_id <> k.keeper THEN 1 END) AS BIGINT) AS n_losers,
       CAST(sum(f.n_chars) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN f.doc_id <> k.keeper THEN f.n_chars ELSE 0 END) AS BIGINT)
         AS chars_saved,
       CAST(sum(CASE WHEN f.doc_id <> k.keeper THEN f.n_chars ELSE 0 END) * 1000000
            // sum(f.n_chars) AS BIGINT) AS savings_ppm
FROM f JOIN k ON k.fp = f.fp
GROUP BY f.source
ORDER BY f.source
"""


@register(
    "dedup_storage_savings",
    _SAVINGS_ORACLE,
    doc="bytes exact dedup would reclaim, per source (min-id keeper convention)",
)
def dedup_storage_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does exact dedup actually BUY, per source: loser counts and
    the character mass they'd free (min-doc_id keeper, the `dedup_exact`
    convention) — the capacity-planning readout that turns a dedup run
    into a storage/compute forecast, and the per-source attribution that
    names which feed ships the duplication.

    Exactness: the fingerprint is the shared normalized-content md5;
    counts and character sums are exact integers, savings is integer
    ppm.

    Scale: one shuffle on the 16-byte fingerprint carrying only (id,
    source, n_chars) — text never moves; the keeper table joins back on
    the same key (co-partitioned by the first shuffle), and the fold
    lands on the source grid."""
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(normalized_text())
    f = docs.select("doc_id", "source", "n_chars", fp.alias("fp"))
    f = f.persist(CKPT_LEVEL)  # feeds the keeper agg AND the join back
    k = f.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    return (
        f.join(k, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.when(F.col("doc_id") != F.col("keeper"), 1))
            .cast("long")
            .alias("n_losers"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(F.when(F.col("doc_id") != F.col("keeper"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_saved"),
            F.expr(
                "CAST(sum(CASE WHEN doc_id <> keeper THEN n_chars ELSE 0 END) * 1000000"
                " DIV sum(n_chars) AS BIGINT)"
            ).alias("savings_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Exact-substring (duplicate-span) dedup — Lee et al. 2022 style
# --------------------------------------------------------------------------

# Duplicate-substring detection at token-gram granularity ("Deduplicating
# Training Data Makes Language Models Better", Lee et al. 2022): a position
# is duplicated when its K-token gram occurs >= 2 times corpus-wide;
# adjacent duplicated positions merge into maximal runs (the spans a
# training pipeline would cut). The published system builds a suffix
# array; the Spark-native equivalent is rolling K-gram fingerprints +
# gaps-and-islands run merge — same spans for runs >= K tokens, fully
# relational, no suffix-array memory wall.
SUBSTRING_K = 5
# Document-frequency cap: a gram in > MAX_GRAM_DF distinct docs is
# template boilerplate ("click here to unsubscribe ..."); at 100 TB such
# grams mark practically every doc and the duplicated-position stream
# degenerates to the corpus itself. Capped grams are excluded from run
# building IDENTICALLY in both engines (the oracle replays the HAVING),
# so the check stays exact even when the cap engages — at sf10 (100
# copies of every doc) it does.
MAX_GRAM_DF = 512

_SUBSTRING_GRAMS_CTE = rf"""
toks AS (
  SELECT doc_id,
         {_WS_TOKENS_DUCK} AS tokens
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(range(1, len(tokens) - 3)) - 1 AS pos,
         unnest(list_transform(range(1, len(tokens) - 3),
           i -> md5({duck_ngram(5)}))) AS g
  FROM toks WHERE len(tokens) >= 5
),
dup AS (
  SELECT g FROM grams GROUP BY g
  HAVING count(*) >= 2 AND count(DISTINCT doc_id) <= 512
),
dpos AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM dpos
),
runs AS (
  SELECT doc_id, min(pos) AS run_start, max(pos) + 4 AS run_end,
         count(*) AS n_grams
  FROM isl GROUP BY doc_id, island
)
"""

_SUBSTRING_RUNS_ORACLE = (
    "WITH "
    + _SUBSTRING_GRAMS_CTE
    + """
SELECT doc_id, run_start, run_end,
       run_end - run_start + 1 AS n_tokens, n_grams
FROM runs ORDER BY doc_id, run_start
"""
)


def _substring_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, g) — md5 of the K-token gram starting at 0-based
    token position ``pos``. lead() windows over posexplode (the measured
    fast shape, see :func:`shingles_exploded`); one doc_id shuffle, text
    never moves past this projection."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens_col().alias("tokens")).filter(
        F.size("tokens") >= SUBSTRING_K
    )
    pe = toks.select("doc_id", F.posexplode("tokens").alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", i).over(w) for i in range(1, SUBSTRING_K)]
    return (
        pe.select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.concat_ws(" ", "tok", *leads).alias("gram"),
            leads[-1].alias("guard"),
        )
        .filter(F.col("guard").isNotNull())
        .select("doc_id", "pos", F.md5("gram").alias("g"))
    )


@register(
    "dedup_substring_runs",
    _SUBSTRING_RUNS_ORACLE,
    doc="maximal duplicated K-token substring runs per document (Lee et al. 2022 shape)",
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring spans: every K-gram position whose
    fingerprint repeats corpus-wide (df-capped at MAX_GRAM_DF), merged
    into runs by gaps-and-islands (pos - row_number per doc).

    Scale: gram stream shuffles once on the 16-byte md5 (constant-width
    rows — text stays behind); the duplicate set is a partial-aggregated
    groupBy feeding a semi-join on the same key (co-partitioned, no
    second full shuffle of the build side); run merge is one doc_id
    window over only the DUPLICATED positions (a small fraction of the
    corpus when the df cap holds). Nothing is quadratic: no pair stream
    exists — output is spans-to-cut, not pairs — which is why this needs
    no bucket cap beyond the df filter (replayed in the oracle)."""
    grams = _substring_grams(spark, sf_dir)
    # Feeds the duplicate-set aggregate AND the semi-join probe: cut the
    # lineage so the posexplode+window pipeline runs once, not twice.
    grams = grams.persist(CKPT_LEVEL)
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.countDistinct("doc_id").alias("df"))
        .filter((F.col("n_occ") >= 2) & (F.col("df") <= MAX_GRAM_DF))
        .select("g")
    )
    dpos = grams.join(dup, "g", "left_semi")
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dpos.select(
        "doc_id", "pos", (F.col("pos") - F.row_number().over(w)).alias("island")
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("run_start"),
            (F.max("pos") + F.lit(SUBSTRING_K - 1)).alias("run_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select(
            "doc_id",
            "run_start",
            "run_end",
            (F.col("run_end") - F.col("run_start") + 1).alias("n_tokens"),
            "n_grams",
        )
        .orderBy("doc_id", "run_start")
    )


_SUBSTRING_PROFILE_ORACLE = (
    "WITH "
    + _SUBSTRING_GRAMS_CTE
    + """,
per_doc AS (
  SELECT doc_id, sum(run_end - run_start + 1) AS dup_tokens, count(*) AS n_runs
  FROM runs GROUP BY doc_id
),
doc_tok AS (SELECT doc_id, len(tokens) AS tokens_n FROM toks)
SELECT
  d.source,
  count(*)                                   AS n_docs,
  count(p.doc_id)                            AS docs_with_dups,
  CAST(sum(d.tokens_n) AS BIGINT)            AS total_tokens,
  CAST(sum(coalesce(p.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
  CAST(sum(coalesce(p.dup_tokens, 0)) * 1000000 // sum(d.tokens_n) AS BIGINT) AS dup_ppm
FROM (
  SELECT t.doc_id, dd.source, t.tokens_n
  FROM doc_tok t JOIN documents dd USING (doc_id)
) d
LEFT JOIN per_doc p ON d.doc_id = p.doc_id
GROUP BY d.source ORDER BY d.source
"""
)


@register(
    "dedup_substring_profile",
    _SUBSTRING_PROFILE_ORACLE,
    doc="per-source duplicated-substring burden (tokens in duplicated runs, ppm)",
)
def dedup_substring_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation dashboard over :func:`dedup_substring_runs`: per
    source, how many tokens sit inside duplicated substring runs. Runs
    are maximal and disjoint by construction, so summing their lengths
    IS the union size — integer-exact (ppm via integer DIV, no float
    drift cross-engine).

    Scale: the runs stream is already doc-granular and tiny relative to
    the corpus; the token totals come from a second scan that projects
    only (doc_id, source, size(tokens)) — column-pruned, no text
    shuffle. The doc-level join keys on doc_id (runs side is aggregated
    first, so the join input is bounded by the doc count)."""
    runs = dedup_substring_runs(spark, sf_dir)
    per_doc = runs.groupBy("doc_id").agg(F.sum("n_tokens").alias("dup_tokens"))
    docs = load(spark, sf_dir, "documents")
    doc_tok = docs.select(
        "doc_id", "source", F.size(_tokens_col()).cast("long").alias("tokens_n")
    )
    return (
        doc_tok.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("dup_tokens").cast("long").alias("docs_with_dups"),
            F.sum("tokens_n").cast("long").alias("total_tokens"),
            F.sum(F.coalesce("dup_tokens", F.lit(0))).cast("long").alias("dup_tokens"),
            F.expr(
                "CAST(sum(coalesce(dup_tokens, 0)) * 1000000 DIV sum(tokens_n) AS BIGINT)"
            ).alias("dup_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Edit-distance rescoring of the banded candidate pairs
# --------------------------------------------------------------------------

_LEVENSHTEIN_ORACLE = f"""
WITH pairs AS (
  SELECT doc_a, doc_b, jaccard FROM ({_NGRAM_ORACLE.replace("ORDER BY doc_a, doc_b", "")})
),
proj AS (
  SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g') AS ptext
  FROM documents
)
SELECT p.doc_a, p.doc_b, p.jaccard,
       CAST(length(a.ptext) AS BIGINT) AS len_a,
       CAST(length(b.ptext) AS BIGINT) AS len_b,
       CAST(levenshtein(a.ptext, b.ptext) AS BIGINT) AS lev,
       CAST((greatest(length(a.ptext), length(b.ptext)) - levenshtein(a.ptext, b.ptext))
            * 1000000 // greatest(length(a.ptext), length(b.ptext)) AS BIGINT) AS lev_sim_ppm
FROM pairs p
JOIN proj a ON a.doc_id = p.doc_a
JOIN proj b ON b.doc_id = p.doc_b
ORDER BY p.doc_a, p.doc_b
"""


@register(
    "dedup_levenshtein_rescore",
    _LEVENSHTEIN_ORACLE,
    doc="exact edit-distance rescoring of the banded near-dup candidate pairs",
)
def dedup_levenshtein_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level ground truth for the shingle-based candidates:
    every `dedup_ngram_jaccard` pair rescored with exact Levenshtein
    distance on the RAW text (both engines implement the classic DP over
    unicode codepoints — identical integers). Jaccard is
    token-set-based and blind to in-token edits ("colour"/"color" share
    no 3-shingle but are 1 edit apart); the curation delete-list keeps
    pairs where BOTH signals agree, and the disagreement quadrant is the
    review queue.

    lev_sim_ppm = (maxlen − lev)/maxlen in integer ppm (1e6 = identical).

    Cross-engine contract: the distance runs on the ASCII PROJECTION of
    the text (every non-ASCII codepoint → '?', identically in both
    engines) — DuckDB's levenshtein counts BYTE edits while Spark's
    counts CODEPOINT edits ('café'→'cafe' is 1 vs 2), and the projection
    is where they provably coincide while preserving edit structure.

    Scale: the O(len²·pairs) DP runs ONLY on the banded candidate list
    (bounded, broadcastable — nothing new is quadratic in the corpus);
    the two text lookups are equi-joins on doc_id. At 100 TB, cap
    per-pair cost by length-bucketing (docs past ~100 kB compare by
    chunk fingerprint instead — the substring-run machinery above)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"[^\x00-\x7F]", "?").alias("text"),
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "jaccard",
            "CAST(length(text_a) AS BIGINT) AS len_a",
            "CAST(length(text_b) AS BIGINT) AS len_b",
            "CAST(levenshtein(text_a, text_b) AS BIGINT) AS lev",
            "CAST((greatest(length(text_a), length(text_b)) - levenshtein(text_a, text_b))"
            " * 1000000 DIV greatest(length(text_a), length(text_b)) AS BIGINT) AS lev_sim_ppm",
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Cross-source duplication matrix (contamination provenance)
# --------------------------------------------------------------------------

_SUBSTRING_SOURCE_MATRIX_ORACLE = (
    "WITH "
    + _SUBSTRING_GRAMS_CTE
    + """,
gs AS (
  SELECT DISTINCT gr.g, d.source
  FROM grams gr
  JOIN documents d USING (doc_id)
  WHERE gr.g IN (SELECT g FROM dup)
),
sp AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM gs a JOIN gs b ON a.g = b.g AND a.source < b.source
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM sp GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""
)


@register(
    "dedup_substring_source_matrix",
    _SUBSTRING_SOURCE_MATRIX_ORACLE,
    doc="cross-source shared-substring matrix (which sources copy from which)",
)
def dedup_substring_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination provenance over the `dedup_substring_runs`
    machinery: for every duplicated K-gram (same dup set, same df cap),
    which PAIRS of sources share it — the matrix a curation team reads
    to find mirror sites, syndication feeds, and benchmark leakage
    between corpus slices.

    Scale: the (gram, source) table is gram-stream-sized pre-distinct;
    the per-gram self-join fans out at most C(|sources|, 2) rows per
    gram — the source dictionary is data-model bounded (and the df cap
    already bounds each gram's doc list), so nothing is corpus-
    quadratic. One shuffle on the md5 key, one on the source pair."""
    grams = _substring_grams(spark, sf_dir)
    grams = grams.persist(CKPT_LEVEL)  # feeds dup agg + the semi-join
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.countDistinct("doc_id").alias("df"))
        .filter((F.col("n_occ") >= 2) & (F.col("df") <= MAX_GRAM_DF))
        .select("g")
    )
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    gs = (
        grams.join(dup, "g", "left_semi")
        .join(src, "doc_id")
        .select("g", "source")
        .distinct()
    )
    gs = gs.persist(CKPT_LEVEL)  # both sides of the per-gram self-join
    a = gs.select("g", F.col("source").alias("source_a"))
    b = gs.select(F.col("g").alias("g_b"), F.col("source").alias("source_b"))
    return (
        a.join(b, (a["g"] == b["g_b"]) & (a["source_a"] < b["source_b"]))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
        .orderBy("source_a", "source_b")
    )
