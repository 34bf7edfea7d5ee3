"""Catalog + partition DDL + crawler — the reference's direct surface
(SURVEY.md §2.A/§2.B/§2.C C1) on the Spark catalog.

Parity notes (cited against /root/reference/gluettalax.py):

* partition values are **strings** end-to-end, like the reference (argv
  or path segments, never cast — test_parse_args.py:52,68,98); partition
  columns are declared STRING at the DDL boundary.
* ``add_partition`` derives missing locations exactly like
  gluettalax.py:461-469: Hive ``k=v/`` joins, or positional ``v1/v2/``
  when every key is named ``partition_*`` (:463-465).
* ``add_partitions_by_location`` re-implements the bulk discovery of
  gluettalax.py:398-441 **with the Skip bugs fixed**: a mismatched dir is
  skipped (the reference falls through and still creates it, :419,:426).
* duplicate partition → :class:`PartitionAlreadyExists` warning (exit 0
  at the CLI), missing partition on delete → :class:`PartitionNotFound`
  (gluettalax.py:480-482, 494-497).
* reads go to the session catalog directly, as the reference goes to
  ``get_table`` / ``get_partitions``: one table read gives the partition
  keys and location, one partition listing gives every partition's raw
  values and location; no DESCRIBE / SHOW PARTITIONS text is parsed and
  no Spark job runs. Locations render in DESCRIBE's ``file:/…`` form.
"""

from __future__ import annotations

import threading
import time
from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

from gluettalax_spark.exceptions import (
    CrawlerNotFound,
    CrawlerTimeout,
    InvalidOption,
    PartitionAlreadyExists,
    PartitionNotFound,
    TableNotFound,
)

DEFAULT_CRAWLER_DELAY = 10  # seconds (gluettalax.py:81)
DEFAULT_CRAWLER_TIMEOUT = 600  # seconds (gluettalax.py:82)
# Local crawls finish in milliseconds (vs minutes on Glue), so polls are
# capped at this; the reference's `delay` contract still bounds the sleep
# for callers that pass a smaller value.
_POLL_CAP = 0.05  # seconds


class Partitions(NamedTuple):
    """Mirror of the reference's ``Partitions`` namedtuple (gluettalax.py:371)."""

    partition_keys: list[str]
    max_lengths: list[int]
    data: list[tuple]


class Table(NamedTuple):
    """Mirror of the reference's ``Table`` namedtuple (gluettalax.py:500)."""

    table_name: str
    database_name: str


def _q(ident: str) -> str:
    return "`" + ident.replace("`", "``") + "`"


def _qualified(database: str, table: str) -> str:
    return f"{_q(database)}.{_q(table)}"


def _sql_str(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"


# --------------------------------------------------------------------------
# Databases / tables
# --------------------------------------------------------------------------


def create_database(spark: SparkSession, name: str, location: str | None = None) -> None:
    loc = f" LOCATION {_sql_str(location)}" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_q(name)}{loc}")


def create_external_table(
    spark: SparkSession,
    database: str,
    table: str,
    location: str,
    schema: str,
    partition_keys: list[str] | None = None,
    fmt: str = "parquet",
    options: dict[str, str] | None = None,
) -> None:
    """External table = path + format + schema + string partition keys
    (the reference's StorageDescriptor collapses to the datasource format,
    SURVEY.md §1.4).

    ``schema`` is the DATA columns DDL (``"a LONG, b STRING"``);
    partition columns are appended as STRING, reference-style.
    """
    parts = ""
    cols = schema
    if partition_keys:
        part_cols = ", ".join(f"{_q(k)} STRING" for k in partition_keys)
        cols = f"{schema}, {part_cols}"
        parts = f" PARTITIONED BY ({', '.join(_q(k) for k in partition_keys)})"
    opts = ""
    if options:
        kv = ", ".join(f"{_sql_str(k)} {_sql_str(v)}" for k, v in options.items())
        opts = f" OPTIONS ({kv})"
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {_qualified(database, table)} ({cols}) "
        f"USING {fmt}{opts}{parts} LOCATION {_sql_str(location)}"
    )


def list_tables(spark: SparkSession, pattern: str | None = None) -> list[Table]:
    """All tables across all databases (reference ``search_tables`` with
    manual pagination, gluettalax.py:503-514 — the catalog iterator
    replaces the NextToken loop). Optional glob on the table name only
    (D3, gluettalax.py:799)."""
    import fnmatch

    out: list[Table] = []
    for db in spark.catalog.listDatabases():
        for t in spark.catalog.listTables(db.name):
            if pattern and not fnmatch.fnmatch(t.name, pattern):
                continue
            out.append(Table(table_name=t.name, database_name=db.name))
    return sorted(out)


# --------------------------------------------------------------------------
# Partition values validation (B1, gluettalax.py:357-368)
# --------------------------------------------------------------------------


def get_partition_values(kargs: dict[str, str], partition_keys: list[str]) -> list[str]:
    """Validate argv kwargs against the table's partition keys: exact
    count, every key present; order values by key order. All values stay
    strings."""
    if len(kargs) != len(partition_keys):
        raise InvalidOption(
            f"expected {len(partition_keys)} partition values "
            f"({', '.join(partition_keys)}), got {len(kargs)}"
        )
    values: list[str] = []
    for key in partition_keys:
        if key not in kargs:
            raise InvalidOption(f"missing partition key {key}")
        values.append(str(kargs[key]))
    return values


class _Table(NamedTuple):
    """A partitioned table as the session catalog holds it."""

    catalog: object  # JVM SessionCatalog
    ident: object  # JVM TableIdentifier
    keys: list[str]
    location: str


def _as_list(jvm, seq) -> list:
    """A Scala ``Seq`` as a Python list, read by index: py4j ends an
    iteration on a Java exception, which PySpark's error conversion makes
    cost tens of milliseconds."""
    items = jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
    return [items.get(i) for i in range(items.size())]


def _uri_to_string(jvm):
    """DESCRIBE's ``file:/…`` rendering (``URI.toString`` gives ``file:///…``)."""
    return jvm.org.apache.spark.sql.catalyst.catalog.CatalogUtils.URIToString


def _partitioned_table(spark: SparkSession, database: str, table: str) -> _Table:
    """Partition keys and location from one catalog read (no DESCRIBE)."""
    jvm = spark.sparkContext._jvm
    state = spark._jsparkSession.sessionState()
    catalog = state.catalog()
    try:
        ident = state.sqlParser().parseTableIdentifier(_qualified(database, table))
        meta = catalog.getTableMetadata(ident)
    except AnalysisException as exc:
        raise TableNotFound(f"Table not found {database}.{table}") from exc
    keys = _as_list(jvm, meta.partitionColumnNames())
    if not keys:
        raise InvalidOption(f"table {database}.{table} is not partitioned")
    return _Table(catalog, ident, keys, _uri_to_string(jvm)(meta.location()))


def _partitions(spark: SparkSession, t: _Table, values: list[str] | None = None) -> list[tuple]:
    """``(*values, location)`` of every partition, or of the one with
    ``values``, from one catalog listing. Values come back raw, as Glue's
    ``Values`` do (SHOW PARTITIONS path-escapes them: ``10:00`` →
    ``10%3A00``)."""
    jvm = spark.sparkContext._jvm
    spec = None if values is None else jvm.PythonUtils.toScalaMap(dict(zip(t.keys, values)))
    uri_to_string = _uri_to_string(jvm)
    out = []
    for p in _as_list(jvm, t.catalog.listPartitions(t.ident, jvm.scala.Option.apply(spec))):
        p_spec = p.spec()
        out.append(tuple(p_spec.apply(k) for k in t.keys) + (uri_to_string(p.location()),))
    return out


def _partition_spec(keys: list[str], values: list[str]) -> str:
    return ", ".join(f"{_q(k)}={_sql_str(v)}" for k, v in zip(keys, values))


# --------------------------------------------------------------------------
# B2: add_partition (gluettalax.py:444-482)
# --------------------------------------------------------------------------


def derive_partition_location(
    table_location: str, partition_keys: list[str], values: list[str]
) -> str:
    """Location derivation rules of gluettalax.py:461-469: trailing-slash
    normalize; positional ``v1/v2/`` when ALL keys are named
    ``partition_*`` ("not-Hive style", :463-465); else Hive ``k=v/``."""
    loc = table_location if table_location.endswith("/") else table_location + "/"
    if partition_keys and all(k.startswith("partition_") for k in partition_keys):
        return loc + "/".join(values) + "/"
    return loc + "/".join(f"{k}={v}" for k, v in zip(partition_keys, values)) + "/"


def add_partition(
    spark: SparkSession, database: str, table: str, kargs: dict[str, str]
) -> str:
    """Create one partition; returns its location. Duplicate →
    :class:`PartitionAlreadyExists` (a warning: CLI exits 0,
    gluettalax.py:480-482 + :849-851)."""
    kargs = dict(kargs)
    location = kargs.pop("location", None)
    t = _partitioned_table(spark, database, table)
    values = get_partition_values(kargs, t.keys)
    if location is None:
        location = derive_partition_location(t.location, t.keys, values)
    spec = _partition_spec(t.keys, values)
    if _partitions(spark, t, values):
        raise PartitionAlreadyExists(f"Partition already exists: {spec}")
    spark.sql(
        f"ALTER TABLE {_qualified(database, table)} ADD PARTITION ({spec}) "
        f"LOCATION {_sql_str(location)}"
    )
    return location


# --------------------------------------------------------------------------
# B4: delete_partition (gluettalax.py:485-497)
# --------------------------------------------------------------------------


def delete_partition(spark: SparkSession, database: str, table: str, kargs: dict[str, str]) -> None:
    """Metadata-only drop, like Glue: data files untouched."""
    t = _partitioned_table(spark, database, table)
    values = get_partition_values(dict(kargs), t.keys)
    spec = _partition_spec(t.keys, values)
    if not _partitions(spark, t, values):
        raise PartitionNotFound(f"Partition not found: {spec}")
    spark.sql(f"ALTER TABLE {_qualified(database, table)} DROP PARTITION ({spec})")


# --------------------------------------------------------------------------
# A4: list_partitions (gluettalax.py:374-395)
# --------------------------------------------------------------------------


def list_partitions(
    spark: SparkSession, database: str, table: str, header: bool = True
) -> Partitions:
    """Partition values + location, per-column max display widths (D10),
    sorted by location (D8) — the reference's exact output contract
    (gluettalax.py:374-395), from one table read and one partition listing
    like its ``get_table`` + ``get_partitions``."""
    t = _partitioned_table(spark, database, table)
    keys = t.keys
    data = _partitions(spark, t)
    data.sort(key=lambda row: row[-1])  # sort by location (gluettalax.py:394)
    headers = [*keys, "location"]
    max_lengths = [len(h) if header else 0 for h in headers]
    for row in data:
        for i, v in enumerate(row):
            max_lengths[i] = max(max_lengths[i], len(str(v)))
    return Partitions(partition_keys=keys, max_lengths=max_lengths, data=data)


# --------------------------------------------------------------------------
# B3: add_partitions_by_location (gluettalax.py:398-441, Skip bugs fixed)
# --------------------------------------------------------------------------


def _list_leaf_dirs(spark: SparkSession, location: str) -> list[str]:
    """Distinct sorted parent dirs of all files under a prefix — the
    reference's flat-S3-listing → dirname → set → sorted (gluettalax.py:
    398-405) via the Hadoop FileSystem API (works for file://, s3a://,
    hdfs:// alike)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(location)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return []
    dirs: set[str] = set()
    it = fs.listFiles(path, True)
    while it.hasNext():
        f = it.next()
        name = str(f.getPath().getName())
        # Ignore metadata/hidden files (_SUCCESS, .crc, ...) — Spark/Hadoop
        # convention; they'd otherwise make every base dir look like a leaf.
        if name.startswith(("_", ".")):
            continue
        dirs.add(str(f.getPath().getParent().toUri().getPath()))
    return sorted(dirs)


def add_partitions_by_location(
    spark: SparkSession,
    database: str,
    table: str,
    location: str | None = None,
) -> dict[str, list[str]]:
    """Bulk partition discovery. Returns {'added': [...], 'skipped': [...],
    'existed': [...]} (the reference prints per-dir messages,
    gluettalax.py:419,426,439-441).

    Defect fix vs the reference: dirs whose path doesn't parse into the
    table's partition keys are actually SKIPPED — the reference's Skip
    branches fall through and create bogus partitions (SURVEY.md §2.B
    warning; gluettalax.py:419,:426)."""
    t = _partitioned_table(spark, database, table)
    if location is None:
        location = t.location
    base = location[len("file:"):] if location.startswith("file:") else location
    base = base if base.endswith("/") else base + "/"

    existing = {row[:-1] for row in _partitions(spark, t)}
    result: dict[str, list[str]] = {"added": [], "skipped": [], "existed": []}
    new_specs: list[str] = []
    for d in _list_leaf_dirs(spark, location):
        rel = d[len(base.rstrip("/")):].strip("/")
        segments = rel.split("/") if rel else []
        # Locate the first 'key=' anchor (gluettalax.py:417), then parse
        # k=v pairs positionally (:421-424).
        start = next((i for i, s in enumerate(segments) if "=" in s), len(segments))
        pairs = [seg.split("=", 1) for seg in segments[start:]]
        if len(pairs) != len(t.keys) or any(
            len(pair) != 2 or pair[0] != k for pair, k in zip(pairs, t.keys)
        ):
            result["skipped"].append(d)
            continue
        values = tuple(v for _, v in pairs)
        if values in existing:
            result["existed"].append(d)
            continue
        existing.add(values)
        result["added"].append(d)
        new_specs.append(
            f"PARTITION ({_partition_spec(t.keys, values)}) LOCATION {_sql_str(d)}"
        )
    if new_specs:  # every new partition in one ALTER
        spark.sql(f"ALTER TABLE {_qualified(database, table)} ADD {' '.join(new_specs)}")
    return result


# --------------------------------------------------------------------------
# C1: Crawler — schema inference + table registration
# --------------------------------------------------------------------------

_crawlers: dict[str, "Crawler"] = {}
_crawlers_lock = threading.Lock()


class Crawler:
    """Schema-inference agent (reference Crawler, gluettalax.py:184-224).

    "Crawling" locally = infer schema from the files, register/refresh the
    table, and recover partitions — executed in-process. The READY/running
    state machine, rerun-wait, sync polling, and timeout semantics are
    preserved for API fidelity (async runs happen on a thread)."""

    READY = "READY"
    RUNNING = "RUNNING"

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        database: str,
        table: str,
        location: str,
        fmt: str = "parquet",
        options: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.name = name
        self.database = database
        self.table = table
        self.location = location
        self.fmt = fmt
        self.options = options or {}
        self._state = Crawler.READY
        self._lock = threading.Lock()
        with _crawlers_lock:
            _crawlers[name] = self

    @classmethod
    def get(cls, name: str) -> "Crawler":
        with _crawlers_lock:
            if name not in _crawlers:
                raise CrawlerNotFound(f"Crawler not found {name}")
            return _crawlers[name]

    @classmethod
    def registered(cls) -> list["Crawler"]:
        with _crawlers_lock:
            return sorted(_crawlers.values(), key=lambda c: c.name)

    @classmethod
    def clear_registry(cls) -> None:
        with _crawlers_lock:
            _crawlers.clear()

    @property
    def status(self) -> str:
        return self._state

    @property
    def is_ready(self) -> bool:
        return self._state == Crawler.READY

    def _crawl(self) -> None:
        spark = self.spark
        reader = spark.read.format(self.fmt).options(**self.options)
        if self.fmt in ("csv", "json"):
            reader = reader.option("inferSchema", "true")
        df = reader.load(self.location)
        # Partition columns come back typed from directory inference; the
        # reference treats partition values as strings — declare them so.
        files = df.inputFiles()
        part_cols = [c for c in df.columns if any(f"/{c}=" in f for f in files)]
        data_cols = [f for f in df.schema.fields if f.name not in part_cols]
        schema_ddl = ", ".join(f"{_q(f.name)} {f.dataType.simpleString()}" for f in data_cols)
        create_database(spark, self.database)
        spark.sql(f"DROP TABLE IF EXISTS {_qualified(self.database, self.table)}")
        create_external_table(
            spark,
            self.database,
            self.table,
            self.location,
            schema_ddl,
            partition_keys=part_cols,
            fmt=self.fmt,
            options=self.options,
        )
        if part_cols:
            spark.catalog.recoverPartitions(f"{self.database}.{self.table}")

    def run(
        self,
        rerun: bool = False,
        delay: int = DEFAULT_CRAWLER_DELAY,
        timeout: int = DEFAULT_CRAWLER_TIMEOUT,
        op_async: bool = False,
    ) -> None:
        """Reference semantics (gluettalax.py:205-224): if ``rerun``, wait
        until READY (bounded by timeout); start only when ready; sync mode
        waits for completion, raising :class:`CrawlerTimeout` on expiry.

        With ``rerun=False`` and the crawler already RUNNING, no new crawl
        starts — but sync mode still waits for READY (gluettalax.py:220-224)
        so a sync caller never proceeds believing an in-flight crawl is
        done; async mode returns immediately."""
        deadline = time.monotonic() + timeout
        started_waiting = False
        while not self.is_ready:
            if not rerun:
                if op_async:
                    return  # already running, caller didn't ask to wait
                started_waiting = True  # sync: fall through to the wait loop
            if time.monotonic() > deadline:
                raise CrawlerTimeout(f"Crawler {self.name} timeout")
            time.sleep(min(delay, _POLL_CAP))
        if started_waiting:
            return  # waited out someone else's crawl; don't start another

        with self._lock:
            self._state = Crawler.RUNNING

        def work() -> None:
            try:
                self._crawl()
            finally:
                with self._lock:
                    self._state = Crawler.READY

        if op_async:
            threading.Thread(target=work, name=f"crawler-{self.name}", daemon=True).start()
            return
        t = threading.Thread(target=work, name=f"crawler-{self.name}", daemon=True)
        t.start()
        t.join(timeout)
        if t.is_alive():
            raise CrawlerTimeout(f"Crawler {self.name} timeout after {timeout}s")


def run_crawler(
    name: str,
    rerun: bool = False,
    delay: int = DEFAULT_CRAWLER_DELAY,
    timeout: int = DEFAULT_CRAWLER_TIMEOUT,
    op_async: bool = False,
) -> None:
    """Functional wrapper (gluettalax.py:274-276) — honoring the
    documented intent: ``rerun`` and ``op_async`` are actually passed
    through (the reference drops them, SURVEY.md §2.B warning)."""
    Crawler.get(name).run(rerun=rerun, delay=int(delay), timeout=int(timeout), op_async=op_async)
