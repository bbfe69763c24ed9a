"""Command-line driver — the ``liblevenshtein`` CLI surface re-expressed
for spark-submit.

Reference command set (``/root/reference/src/cli/args.rs:25-237``):
Query, Info, Convert, Insert, Delete, Minimize, Settings/Config (+ REPL,
whose interactive loop is answered at scale by ``streaming/match.py``).
Mapping:

    query     fuzzy query a dictionary table        (Transducer::query_ordered)
    info      row count + schema + key stats        (Commands::Info)
    convert   read any supported format, write another (Commands::Convert)
    upsert    merge new terms into a dictionary     (Insert / DynamicDawg)
    delete    remove terms                          (Delete)
    er        run the full entity-resolution pipeline on an interleaved
              docs table (the pipeline this engine exists for)
    config    persisted query defaults (show/set/unset/clear) — the
              Settings/Config analog; precedence flag > profile > builtin
    lineage   print a run_dir's stage DAG (rows, partitions, walls,
              metrics, upstream edges) from its checkpoint manifests

Launch:  spark-submit --py-files liblevenshtein_rust_spark.zip \
             -m liblevenshtein_rust_spark.cli query --dict terms.parquet \
             --term qury --max-distance 2 --limit 10

Formats: parquet (default), json, csv, text (one term per line — the
reference's plaintext dictionary format, ``serialization/plaintext_impl.rs``).
"""

from __future__ import annotations

import argparse
import json
import sys


def _read(spark, path: str, fmt: str, term_col: str):
    if fmt == "text":
        return spark.read.text(path).withColumnRenamed("value", term_col)
    return getattr(spark.read, fmt)(path)


def _write(df, path: str, fmt: str, term_col: str):
    if fmt == "text":
        df.select(term_col).write.mode("overwrite").text(path)
    else:
        getattr(df.write.mode("overwrite"), fmt)(path)


def cmd_query(spark, args) -> None:
    from pyspark.sql import functions as F

    from .operators import matching

    _resolve_query_defaults(args)
    probes = spark.createDataFrame([(t,) for t in args.term], "query string")
    dictionary = _read(spark, args.dict, args.format, args.term_col).select(
        F.col(args.term_col).alias("term")
    )
    res = matching.fuzzy_query_ordered(
        probes,
        dictionary,
        args.max_distance,
        args.algorithm,
        limit=args.limit,
        prefix_mode=args.prefix,
    )
    for row in res.collect():
        if args.show_distances:
            print(f"{row['query']}\t{row['term']}\t{row['distance']}")
        else:
            print(f"{row['query']}\t{row['term']}")


def cmd_info(spark, args) -> None:
    from .functions.blocking_keys import deletion_key_rows

    df = _read(spark, args.dict, args.format, args.term_col)
    n = df.count()
    keys = deletion_key_rows(df, args.term_col, 1).select("key")
    out = {
        "rows": n,
        "schema": df.schema.simpleString(),
        "distinct_terms": df.select(args.term_col).distinct().count(),
        "blocking_keys_d1": keys.distinct().count(),
    }
    print(json.dumps(out))


def cmd_convert(spark, args) -> None:
    df = _read(spark, args.input, args.from_format, args.term_col)
    _write(df, args.output, args.to_format, args.term_col)
    print(f"converted {args.input} ({args.from_format}) -> {args.output} ({args.to_format})")


def cmd_upsert(spark, args) -> None:
    from .operators import incremental

    d = _read(spark, args.dict, args.format, args.term_col)
    terms = spark.createDataFrame([(t,) for t in args.term], f"{args.term_col} string")
    out = incremental.apply_upserts(d, terms, args.term_col, value_col=None)
    _write(out, args.output or args.dict + ".out", args.format, args.term_col)
    print(f"upserted {len(args.term)} terms")


def cmd_delete(spark, args) -> None:
    from .operators import incremental

    d = _read(spark, args.dict, args.format, args.term_col)
    terms = spark.createDataFrame([(t,) for t in args.term], f"{args.term_col} string")
    out = incremental.apply_deletes(d, terms, args.term_col)
    _write(out, args.output or args.dict + ".out", args.format, args.term_col)
    print(f"deleted {len(args.term)} terms")


def cmd_clear(spark, args) -> None:
    """``Commands::Clear`` (``cli/args.rs``) — empty the dictionary while
    keeping it queryable: write a zero-row table with the SAME schema (an
    immutable-table truncate; the reference mutates in place, Spark rewrites
    the snapshot — on Iceberg this is ``TRUNCATE TABLE``, one metadata op)."""
    d = _read(spark, args.dict, args.format, args.term_col)
    out = d.limit(0)
    _write(out, args.output or args.dict + ".out", args.format, args.term_col)
    print(json.dumps({"rows_in": d.count(), "rows_out": 0}))


def cmd_minimize(spark, args) -> None:
    """``Commands::Minimize`` (``cli/args.rs``) — the reference minimizes a
    DAWG by merging equivalent suffixes; the columnar analog is *table
    compaction*: distinct terms, sorted, rewritten into few size-targeted
    files.  Sorting by term maximizes parquet prefix/dictionary compression
    (shared prefixes land in the same column chunk — the same redundancy a
    DAWG merges) and gives term-range rowgroup statistics, so later lookups
    prune rowgroups like a trie walk prunes branches."""
    d = _read(spark, args.dict, args.format, args.term_col)
    n_before = d.count()
    files_before = len(d.inputFiles())
    out = (
        d.distinct()
        .repartitionByRange(max(1, args.target_files), args.term_col)
        .sortWithinPartitions(args.term_col)
    )
    _write(out, args.output or args.dict + ".min", args.format, args.term_col)
    print(
        json.dumps(
            {
                "rows_in": n_before,
                "rows_out": out.count(),
                "files_in": files_before,
                "files_out": args.target_files,
            }
        )
    )


def cmd_er(spark, args) -> None:
    from .pipeline import er

    docs = spark.read.parquet(args.docs)
    cfg = er.ERConfig(
        max_distance=args.max_distance,
        max_df=args.max_df,
        min_token_matches=args.min_token_matches,
    )
    entities = er.run_pipeline(spark, docs, args.run_dir, cfg)
    if args.output:
        entities.write.mode("overwrite").parquet(args.output)
    n = entities.select("entity").distinct().count()
    print(json.dumps({"docs": entities.count(), "entities": n, "run_dir": args.run_dir}))


def cmd_curate(spark, args) -> None:
    from .pipeline import curation

    docs = spark.read.parquet(args.docs)
    eval_docs = spark.read.parquet(args.eval_docs) if args.eval_docs else None
    cfg = curation.CurationConfig(
        allowed_langs=tuple(args.lang or ["en"]),
        max_dup_frac=args.max_dup_frac,
        max_pii=args.max_pii,
        line_min_docs=args.line_min_docs,
        segment_lines=args.segment_lines,
        near_dup_threshold=args.near_dup_threshold,
        decontam_min_shared=args.decontam_min_shared,
    )
    corpus = curation.run_curation(spark, docs, eval_docs, args.run_dir, cfg)
    if args.output:
        corpus.write.mode("overwrite").parquet(args.output)
    rs = curation.Runstate(spark, args.run_dir, curation.asdict(cfg))
    # ledger shows only THIS config's stages: run_dir reuse after a config
    # change would otherwise report stale manifests from the old run
    stages = {
        s: {"rows": m["rows"], "wall_s": m["wall_s"]}
        for s, m in rs.manifests().items()
        if m.get("fingerprint") == rs.fingerprint
    }
    print(json.dumps({"run_dir": args.run_dir, "stages": stages}))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="liblevenshtein-spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query")
    # profile-able args default to None; resolved against the config
    # profile (then the builtin default) in main() — see cmd_config
    q.add_argument("--dict", default=None)
    q.add_argument("--term", action="append", required=True)
    q.add_argument("--max-distance", type=int, default=None)
    q.add_argument("--algorithm", default=None,
                   choices=["standard", "transposition", "merge_and_split"])
    q.add_argument("--prefix", action="store_true")
    q.add_argument("--show-distances", action="store_true")
    q.add_argument("--limit", type=int, default=None)
    q.add_argument("--format", default=None)
    q.add_argument("--term-col", default=None)

    ln = sub.add_parser("lineage")
    ln.add_argument("--run-dir", required=True)

    cf = sub.add_parser("config")
    cf.add_argument("action", choices=["show", "set", "unset", "clear"])
    cf.add_argument("key", nargs="?", default=None)
    cf.add_argument("value", nargs="?", default=None)
    cf.add_argument("--profile", default=None,
                    help="profile path (default $LIBLEVENSHTEIN_SPARK_CONFIG "
                         "or ~/.liblevenshtein_spark.json)")

    i = sub.add_parser("info")
    i.add_argument("--dict", required=True)
    i.add_argument("--format", default="parquet")
    i.add_argument("--term-col", default="term")

    c = sub.add_parser("convert")
    c.add_argument("--input", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--from-format", default="parquet")
    c.add_argument("--to-format", default="parquet")
    c.add_argument("--term-col", default="term")

    cl = sub.add_parser("clear")
    cl.add_argument("--dict", required=True)
    cl.add_argument("--output", default=None)
    cl.add_argument("--format", default="parquet")
    cl.add_argument("--term-col", default="term")

    for name in ("upsert", "delete"):
        s = sub.add_parser(name)
        s.add_argument("--dict", required=True)
        s.add_argument("--term", action="append", required=True)
        s.add_argument("--output", default=None)
        s.add_argument("--format", default="parquet")
        s.add_argument("--term-col", default="term")

    m = sub.add_parser("minimize")
    m.add_argument("--dict", required=True)
    m.add_argument("--output", default=None)
    m.add_argument("--format", default="parquet")
    m.add_argument("--term-col", default="term")
    m.add_argument("--target-files", type=int, default=1)

    e = sub.add_parser("er")
    e.add_argument("--docs", required=True)
    e.add_argument("--run-dir", required=True)
    e.add_argument("--output", default=None)
    e.add_argument("--max-distance", type=int, default=2)
    e.add_argument("--max-df", type=int, default=50)
    e.add_argument("--min-token-matches", type=int, default=2)

    cu = sub.add_parser("curate")
    cu.add_argument("--docs", required=True)
    cu.add_argument("--run-dir", required=True)
    cu.add_argument("--eval-docs", default=None)
    cu.add_argument("--output", default=None)
    # default=None, applied as `args.lang or ["en"]` in cmd_curate: argparse
    # APPENDS user values to a list default, so default=["en"] would make
    # English impossible to exclude via the CLI (--lang de -> ["en","de"])
    cu.add_argument("--lang", action="append", default=None)
    cu.add_argument("--max-dup-frac", type=float, default=0.2)
    cu.add_argument("--max-pii", type=int, default=5)
    cu.add_argument("--line-min-docs", type=int, default=5)
    cu.add_argument("--segment-lines", action="store_true")
    cu.add_argument("--near-dup-threshold", type=float, default=0.5)
    cu.add_argument("--decontam-min-shared", type=int, default=2)
    return p


# -- config profile (the reference's Settings/Config analog, args.rs:25-237:
# persisted query defaults so interactive use doesn't repeat flags) --------

_PROFILE_KEYS = {
    "dict": str,
    "algorithm": str,
    "max_distance": int,
    "format": str,
    "term_col": str,
    "limit": int,
}
_QUERY_BUILTINS = {
    "dict": None,
    "algorithm": "standard",
    "max_distance": 2,
    "format": "parquet",
    "term_col": "term",
    "limit": None,
}


def _profile_path(args) -> str:
    import os

    return (
        getattr(args, "profile", None)
        or os.environ.get("LIBLEVENSHTEIN_SPARK_CONFIG")
        or os.path.expanduser("~/.liblevenshtein_spark.json")
    )


def _load_profile(path: str) -> dict:
    import os

    if not os.path.exists(path):
        return {}
    try:
        with open(path) as f:
            data = json.load(f)
        return data if isinstance(data, dict) else {}
    except (OSError, json.JSONDecodeError):
        return {}


def cmd_lineage(spark, args) -> None:  # spark unused: reads manifests only
    """Print a run's stage DAG from its checkpoint manifests — the
    north-rule lineage surface: per-stage rows, output partitions (each
    parquet part maps 1:1 to the task that produced it), wall, metrics,
    upstream edges, and config fingerprint, in dependency order."""
    import os

    run_dir = args.run_dir
    stages: dict[str, dict] = {}
    if os.path.isdir(run_dir):
        for s in sorted(os.listdir(run_dir)):
            mpath = os.path.join(run_dir, s, "manifest.json")
            if os.path.exists(mpath):
                with open(mpath) as f:
                    stages[s] = json.load(f)
    # topological order over the manifest `inputs` edges (cycles impossible
    # by construction — a stage's inputs are earlier checkpoints)
    order: list[str] = []
    seen: set[str] = set()

    def visit(name: str) -> None:
        if name in seen or name not in stages:
            return
        seen.add(name)
        for up in stages[name].get("inputs", []):
            visit(up)
        order.append(name)

    for name in stages:
        visit(name)
    out = {
        "run_dir": run_dir,
        "stages": [
            {
                "stage": s,
                "rows": stages[s].get("rows"),
                "partitions": stages[s].get("partitions"),
                "wall_s": stages[s].get("wall_s"),
                "inputs": stages[s].get("inputs", []),
                "fingerprint": stages[s].get("fingerprint"),
                "metrics": stages[s].get("metrics", {}),
            }
            for s in order
        ],
    }
    print(json.dumps(out, indent=1))


def cmd_config(spark, args) -> None:  # spark unused: config is driver-local
    import os

    path = _profile_path(args)
    prof = _load_profile(path)
    if args.action == "show":
        print(json.dumps({"profile": path, "settings": prof}))
        return
    if args.action == "clear":
        if os.path.exists(path):
            os.remove(path)
        print(json.dumps({"profile": path, "settings": {}}))
        return
    if args.key is None:
        raise SystemExit(f"config {args.action} requires a key")
    key = args.key.replace("-", "_")
    if key not in _PROFILE_KEYS:
        raise SystemExit(
            f"unknown config key {args.key!r}; valid: {sorted(_PROFILE_KEYS)}"
        )
    if args.action == "unset":
        prof.pop(key, None)
    else:  # set
        if args.value is None:
            raise SystemExit("config set requires a value")
        if key == "algorithm" and args.value not in (
            "standard", "transposition", "merge_and_split"
        ):
            raise SystemExit(f"invalid algorithm {args.value!r}")
        try:
            prof[key] = _PROFILE_KEYS[key](args.value)
        except ValueError as exc:
            raise SystemExit(f"invalid value for {args.key}: {exc}") from exc
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(prof, f, indent=1)
    os.replace(tmp, path)
    print(json.dumps({"profile": path, "settings": prof}))


def _resolve_query_defaults(args) -> None:
    """Fill query args left unset on the command line from the config
    profile, then from the builtin defaults (flag > profile > builtin —
    the reference's Settings precedence)."""
    prof = _load_profile(_profile_path(args))
    for key, builtin in _QUERY_BUILTINS.items():
        if getattr(args, key, None) is None:
            setattr(args, key, prof.get(key, builtin))
    if args.dict is None:
        raise SystemExit(
            "--dict is required (flag or `config set dict <path>`)"
        )


COMMANDS = {
    "query": cmd_query,
    "info": cmd_info,
    "convert": cmd_convert,
    "upsert": cmd_upsert,
    "delete": cmd_delete,
    "clear": cmd_clear,
    "minimize": cmd_minimize,
    "er": cmd_er,
    "curate": cmd_curate,
    "config": cmd_config,
    "lineage": cmd_lineage,
}

# commands that never need a SparkSession (driver-local file edits)
_NO_SPARK = {"config", "lineage"}


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd in _NO_SPARK:
        COMMANDS[args.cmd](None, args)
        return 0
    from .session import get_spark

    spark = get_spark("liblevenshtein-spark-cli", cores=args.cores)
    COMMANDS[args.cmd](spark, args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
