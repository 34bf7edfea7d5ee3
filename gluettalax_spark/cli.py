"""CLI: usage-grammar parser + commands + exit codes.

Behavioral spec is the reference's CLI framework (SURVEY.md §2.E;
gluettalax.py:517-862) including its 14 parser test cases
(test/test_parse_args.py) — reimplemented, not ported: usage strings are
passed explicitly to the dispatcher instead of recovered via frame
introspection (the reference's ``this_fn`` hack, gluettalax.py:559-563).

Grammar (first usage line only, gluettalax.py:568):
  ``<name>``          required positional
  ``[name]``          optional positional (filled with None when absent)
  ``[--flag]``        boolean option → ``op_<flag>`` key
  ``[--key=value]``   string option (``[--param=value...]`` documents
                      passthrough: any unknown ``--k v|--k=v`` is accepted
                      as a string option, which is how job args flow)

Exit codes (gluettalax.py:839-857): 0 success or GluettalaxWarning;
1 any other GluettalaxException; 2 no command. Divergence (documented):
``run_job`` exits 1 when the job FAILED — the reference always exits 0
(gluettalax.py:720), which SURVEY.md §2.E E8 flags as a bug to fix.
"""

from __future__ import annotations

import fnmatch
import sys
from collections.abc import Callable

from gluettalax_spark.exceptions import (
    GluettalaxCommandNotFound,
    GluettalaxException,
    GluettalaxWarning,
    InvalidOption,
)

# --------------------------------------------------------------------------
# Usage grammar
# --------------------------------------------------------------------------


def parse_usage(usage: str) -> tuple[list[str], list[str], dict[str, type]]:
    """First usage line → (required positionals, optional positionals,
    {option name: bool|str})."""
    required: list[str] = []
    optionals: list[str] = []
    options: dict[str, type] = {}
    for token in usage.split("\n")[0].split():
        if not token.startswith("["):
            required.append(token)
            continue
        inner = token.strip("[]")
        if not inner.startswith("-"):
            optionals.append(inner)
        else:
            name = inner.lstrip("-")
            if "=" in name:
                options[name.split("=", 1)[0]] = str
            else:
                options[name] = bool
    return required, optionals, options


def parse_args(args: list[str] | None, usage: str, defaults: dict | None = None):
    """argv (including the command word) → positionals + options.

    Returns the kwargs dict alone when the usage declares no positionals,
    else ``[pos1, pos2, ..., kwargs]`` with missing optionals as None.
    All parsed values are **strings** (reference contract,
    test_parse_args.py:52,68,98)."""
    required, optionals, options = parse_usage(usage)
    positionals: list = []
    kargs = dict(defaults or {})
    pending_key: str | None = None

    queue = list(args[1:]) if args else []  # args[0] is the command word
    while queue:
        arg = queue.pop(0)
        if pending_key is not None:
            kargs[pending_key] = arg
            pending_key = None
        elif required:
            positionals.append(arg)
            required.pop(0)
        elif optionals and not arg.startswith("-"):
            positionals.append(arg)
            optionals.pop(0)
        elif "=" in arg:
            key, value = arg.split("=", 1)
            if not key.startswith("--"):
                raise InvalidOption(f"invalid option: {arg}")
            pending_key = key[2:]
            queue.insert(0, value)
        else:
            if not arg.startswith("--"):
                raise InvalidOption(f"invalid option: {arg}")
            name = arg[2:]
            if options.get(name) is bool:
                kargs[f"op_{name}"] = True
            else:
                pending_key = name  # string option (incl. passthrough)

    if pending_key is not None:
        raise InvalidOption(f"missing value for {pending_key}")
    if required:
        raise InvalidOption(f"missing {required[0]}")
    positionals.extend([None] * len(optionals))
    if not positionals:
        return kargs
    return [*positionals, kargs]


# --------------------------------------------------------------------------
# Command registry
# --------------------------------------------------------------------------

_COMMANDS: list[Callable] = []


def cmd(fn: Callable) -> Callable:
    """Register a command; its name drops the ``cmd_`` prefix (E1)."""
    fn.cmd_name = fn.__name__.removeprefix("cmd_")
    fn.aliases = getattr(fn, "aliases", ())
    fn.usage = getattr(fn, "usage", "")
    _COMMANDS.append(fn)
    return fn


def alias(*names: str) -> Callable:
    def wrap(fn: Callable) -> Callable:
        fn.aliases = names
        return fn

    return wrap


def usage(text: str) -> Callable:
    def wrap(fn: Callable) -> Callable:
        fn.usage = text
        return fn

    return wrap


def lookup_cmd(name: str) -> Callable:
    for fn in _COMMANDS:
        if name == fn.cmd_name or name in fn.aliases:
            return fn
    raise GluettalaxCommandNotFound(f"command not found: {name}")


# --------------------------------------------------------------------------
# Output helpers (D10/D11 fixed-width formatting)
# --------------------------------------------------------------------------


def _print_table(headers: list[str], rows: list[tuple], noheaders: bool = False) -> None:
    widths = [0 if noheaders else len(h) for h in headers]
    for row in rows:
        for i, v in enumerate(row):
            widths[i] = max(widths[i], len(str(v)))
    fmt = "  ".join(f"{{:<{w}}}" for w in widths)
    try:
        if not noheaders:
            print(fmt.format(*headers))
        for row in rows:
            print(fmt.format(*[str(v) for v in row]))
    except IOError:  # broken pipe tolerated, like gluettalax.py:353-354
        pass


def _glob_filter(rows: list[tuple], pattern: str | None) -> list[tuple]:
    """D4: keep rows where ANY column matches the glob (gluettalax.py:742)."""
    if not pattern:
        return rows
    return [r for r in rows if any(fnmatch.fnmatch(str(v), pattern) for v in r)]


# --------------------------------------------------------------------------
# Commands (reference set, gluettalax.py:638-829, + engine extras)
# --------------------------------------------------------------------------

_NOH = {"op_noheaders": False}


def _spark():
    """The running session as it is, else a new one: the builder would
    re-apply its configs (``spark.sql.shuffle.partitions`` among them) to
    a running session."""
    from pyspark.sql import SparkSession

    from gluettalax_spark.session import get_spark

    return SparkSession.getActiveSession() or get_spark("gluettalax-cli")


@cmd
@alias("lsc")
@usage("[pattern] [--noheaders]")
def cmd_list_crawlers(argv):
    "List crawlers"
    from gluettalax_spark.plans.catalog import Crawler

    pattern, kargs = parse_args(argv, cmd_list_crawlers.usage, dict(_NOH))
    rows = [
        (c.name, c.status, c.database, c.table, c.location)
        for c in Crawler.registered()
        if not pattern or fnmatch.fnmatch(c.name, pattern)  # D1
    ]
    _print_table(["name", "status", "database", "table", "location"], rows, kargs["op_noheaders"])
    return 0


@cmd
@alias("lsj")
@usage("[pattern] [--noheaders]")
def cmd_list_jobs(argv):
    "List jobs"
    import gluettalax_spark.builtin_jobs  # noqa: F401 - registers defaults
    from gluettalax_spark.jobs import default_registry

    pattern, kargs = parse_args(argv, cmd_list_jobs.usage, dict(_NOH))
    rows = [
        (j.name, int(j.default_timeout), j.max_concurrent_runs)
        for j in default_registry.list_jobs(full=True)
        if not pattern or fnmatch.fnmatch(j.name, pattern)  # D2
    ]
    _print_table(["name", "timeout", "max_concurrent_runs"], rows, kargs["op_noheaders"])
    return 0


@cmd
@alias("runc")
@usage("<crawler_name> [--async] [--rerun] [--timeout=seconds]")
def cmd_run_crawler(argv):
    "Run a crawler (infer schema + register table + recover partitions)"
    from gluettalax_spark.plans.catalog import run_crawler

    name, kargs = parse_args(
        argv, cmd_run_crawler.usage, {"op_async": False, "op_rerun": False, "timeout": 600}
    )
    run_crawler(
        name,
        rerun=kargs["op_rerun"],
        timeout=int(kargs["timeout"]),
        op_async=kargs["op_async"],
    )
    return 0


@cmd
@alias("lsr")
@usage("[job_name] [--lines=num] [--nosucceeded] [--noheaders]")
def cmd_list_runs(argv):
    "List job runs (newest first; all jobs when no name given)"
    import gluettalax_spark.builtin_jobs  # noqa: F401 - registers defaults
    from gluettalax_spark.jobs import default_registry

    name, kargs = parse_args(
        argv,
        cmd_list_runs.usage,
        {"lines": None, "op_nosucceeded": False, "op_noheaders": False},
    )
    spark = _spark()
    if name is None:
        runs = default_registry.last_runs_per_job(
            spark, lines=int(kargs["lines"]) if kargs["lines"] else 1
        )  # D7 (gluettalax.py:343-345)
    else:
        runs = default_registry.list_runs(
            spark,
            name,
            lines=int(kargs["lines"]) if kargs["lines"] else None,
            include_succeeded=not kargs["op_nosucceeded"],
        )
    from gluettalax_spark.functions.scalars import format_time

    rows = [
        (
            r.job_name,
            r.run_id,
            r.state,
            r.started_on.isoformat(sep=" ")[:19],  # gluettalax.py:350
            format_time(r.execution_time),  # gluettalax.py:349
            " ".join(f"--{k}={v}" for k, v in (r.arguments or {}).items()),  # :351
        )
        for r in runs
    ]
    _print_table(
        ["job", "run_id", "state", "started_on", "time", "arguments"],
        rows,
        kargs["op_noheaders"],
    )
    return 0


@cmd
@alias("runj")
@usage("<job_name> [--async] [--timeout=seconds] [--param=value...]")
def cmd_run_job(argv):
    "Run a registered job (extra --key=value args pass through to it)"
    import gluettalax_spark.builtin_jobs  # noqa: F401 - registers defaults
    from gluettalax_spark.jobs import default_registry

    name, kargs = parse_args(argv, cmd_run_job.usage, {"op_async": False, "timeout": None})
    op_async = kargs.pop("op_async")
    timeout = kargs.pop("timeout")
    result = default_registry.run(
        _spark(),
        name,
        timeout=float(timeout) if timeout else None,
        op_async=op_async,
        **{k: str(v) for k, v in kargs.items()},
    )
    if op_async:
        print(result)  # run_id
        return 0
    # Reference always exits 0 here (gluettalax.py:720) — fixed per SURVEY §2.E.
    return 0 if result else 1


@cmd
@alias("lsp")
@usage("<database> <table> [pattern] [--noheaders]")
def cmd_list_partitions(argv):
    "List table partitions (values + location)"
    from gluettalax_spark.plans.catalog import list_partitions

    database, table, pattern, kargs = parse_args(argv, cmd_list_partitions.usage, dict(_NOH))
    parts = list_partitions(_spark(), database, table, header=not kargs["op_noheaders"])
    rows = _glob_filter(parts.data, pattern)  # D4
    _print_table([*parts.partition_keys, "location"], rows, kargs["op_noheaders"])
    return 0


@cmd
@alias("addp")
@usage("<database> <table> [--location=path] [--key=value...]")
def cmd_add_partition(argv):
    "Add one partition (location derived Hive- or positional-style if absent)"
    from gluettalax_spark.plans.catalog import add_partition

    database, table, kargs = parse_args(argv, cmd_add_partition.usage)
    location = add_partition(_spark(), database, table, {k: str(v) for k, v in kargs.items()})
    print(f"added {location}")
    return 0


@cmd
@usage("<database> <table> [location]")
def cmd_add_partitions(argv):
    "Discover and add all partitions under a location"
    from gluettalax_spark.plans.catalog import add_partitions_by_location

    database, table, location, _kargs = parse_args(argv, cmd_add_partitions.usage, {})
    result = add_partitions_by_location(_spark(), database, table, location)
    for d in result["skipped"]:
        print(f"Skip {d}")
    for d in result["existed"]:
        print(f"{d} already exists")
    for d in result["added"]:
        print(f"{d} added")
    return 0


@cmd
@alias("rmp")
@usage("<database> <table> [--key=value...]")
def cmd_del_partition(argv):
    "Delete one partition (metadata only; files untouched)"
    from gluettalax_spark.plans.catalog import delete_partition

    database, table, kargs = parse_args(argv, cmd_del_partition.usage)
    delete_partition(_spark(), database, table, {k: str(v) for k, v in kargs.items()})
    return 0


@cmd
@alias("lst")
@usage("[pattern] [--noheaders]")
def cmd_list_tables(argv):
    "List all tables across databases"
    from gluettalax_spark.plans.catalog import list_tables

    pattern, kargs = parse_args(argv, cmd_list_tables.usage, dict(_NOH))
    rows = [(t.table_name, t.database_name) for t in list_tables(_spark(), pattern)]  # D3
    _print_table(["table", "database"], rows, kargs["op_noheaders"])
    return 0


@cmd
@alias("lsq")
@usage("[pattern] [--noheaders]")
def cmd_list_queries(argv):
    "List registered data-plane queries (engine extra)"
    from gluettalax_spark import registry

    pattern, kargs = parse_args(argv, cmd_list_queries.usage, dict(_NOH))
    rows = [
        (name, "sql+oracle" if spec.oracle else "rows-only", spec.doc.split("\n")[0][:60])
        for name, spec in sorted(registry.all_queries().items())
        if not pattern or fnmatch.fnmatch(name, pattern)
    ]
    _print_table(["query", "check", "doc"], rows, kargs["op_noheaders"])
    return 0


@cmd
@alias("runq")
@usage("<query_name> [--sf_dir=path] [--limit=num]")
def cmd_run_query(argv):
    "Run a registered data-plane query and print its result (engine extra)"
    from gluettalax_spark import registry

    name, kargs = parse_args(
        argv, cmd_run_query.usage, {"sf_dir": "/root/testdata/sf0.001", "limit": "20"}
    )
    specs = registry.all_queries()
    if name not in specs:
        raise GluettalaxCommandNotFound(f"query not found: {name}")
    df = specs[name].builder(_spark(), kargs["sf_dir"])
    rows = df.limit(int(kargs["limit"])).collect()
    _print_table(df.columns, [tuple(r) for r in rows])
    return 0


@cmd
@alias("-h", "--help")
@usage("[command]")
def cmd_help(argv):
    "Show help"
    target, _ = parse_args(argv, cmd_help.usage, {})
    if target:
        fn = lookup_cmd(target)
        print(f"usage: gluettalax {fn.cmd_name} {fn.usage}")
        if fn.__doc__:
            print(f"  {fn.__doc__}")
        return 0
    print("usage: gluettalax <command> [args]")
    print("commands:")
    for fn in _COMMANDS:
        aliases = f" ({', '.join(a for a in fn.aliases if not a.startswith('-'))})" if fn.aliases else ""
        print(f"  {fn.cmd_name}{aliases}: {fn.__doc__ or ''}")
    return 0


# --------------------------------------------------------------------------
# Dispatch + exit codes (E8, gluettalax.py:832-862)
# --------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv if argv is None else argv)
    if len(argv) < 2:
        cmd_help(["help"])
        return 2  # no command (gluettalax.py:843-844)
    try:
        fn = lookup_cmd(argv[1])
        result = fn(argv[1:])
        return int(result or 0)
    except GluettalaxWarning as warning:
        print(warning)
        return 0  # warnings are successes (gluettalax.py:849-851)
    except GluettalaxException as exc:
        # stdout, not stderr: the reference prints exceptions to stdout
        # (gluettalax.py:852-854) and scripts capture them there.
        print(exc)
        return 1  # errors (gluettalax.py:852-857)


def gluettalax(*argv: str) -> int:
    """Programmatic entry point (gluettalax.py:860-862):
    ``gluettalax('list_tables', 'usa*')``."""
    return main(["gluettalax", *argv])


if __name__ == "__main__":
    sys.exit(main())
