"""Config-driven pipeline entry point — the es-cli analog (SURVEY.md §3.3;
es-cli/src/main/kotlin/Main.kt:65-125, config schema Config.kt:9-63).

The reference wires config → engine → `.observe(console).observe(fileOutput)`
→ collect; here: args → source DataFrame → shared transforms → sinks, either
batch (bounded range, finishes) or streaming (`awaitTermination` under the
retry/backoff restart loop).

    python -m event_stream_spark.cli --from-height 1 --to-height 40 \
        --backend synthetic --batch --splay-dir ./out --console-nth 10

Config-file mode (es-cli ``application.yml`` parity, Main.kt:65-70): every
option can come from a YAML or JSON file via ``--config``; explicit CLI
flags override file values, mirroring hoplite's CLI > file precedence.
The schema follows Config.kt:9-63 — an ``event-stream`` section with
``height.from/to``, ``filter.tx_events/block_events``,
``skip_empty_blocks``, ``ordered``, ``batch.size``; hoplite ``ConfigAlias``
snake_case/camelCase key pairs are both accepted.  Spark-specific keys
(``backend``, ``templates_dir``, sink options) replace the reference's
node/websocket URIs, whose transport role the source backends own here;
``rpc_url`` (``--rpc-url``, backend ``http``) and ``grpc_target``
(``--grpc-target``, backend ``grpc``) say where a real node is.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame


def _load_structured(path: str) -> dict:
    """YAML (if available) or JSON config file → dict."""
    with open(path) as fh:
        text = fh.read()
    try:
        import yaml

        return yaml.safe_load(text) or {}
    except ImportError:
        return json.loads(text)


def _pick(d: dict, *names, default=None):
    """First present key among hoplite-style aliases (Config.kt @ConfigAlias)."""
    for n in names:
        if isinstance(d, dict) and n in d:
            return d[n]
    return default


def load_config(path: str) -> dict:
    """Flatten an es-cli-shaped config file into parser defaults.

    Key layout mirrors Config.kt: top-level ``from``/``to`` override
    ``event-stream.height`` (as in the reference's Main.kt resolution),
    ``filter`` carries the keep-sets, booleans pass straight through.
    """
    data = _load_structured(path)
    es = _pick(data, "event-stream", "event_stream", "eventStream", default={}) or {}
    height = _pick(es, "height", default={}) or {}
    filt = _pick(es, "filter", default={}) or {}
    flat: dict = {}

    from_h = _pick(data, "from", default=_pick(height, "from"))
    if from_h is not None:
        flat["from_height"] = int(from_h)
    to_h = _pick(data, "to", default=_pick(height, "to"))
    if to_h is not None:
        flat["to_height"] = int(to_h)

    tx_events = _pick(filt, "tx_events", "txEvents", default=None)
    if tx_events:
        flat["tx_event"] = [str(x) for x in tx_events]
    block_events = _pick(filt, "block_events", "blockEvents", default=None)
    if block_events:
        flat["block_event"] = [str(x) for x in block_events]

    for key, names in {
        "skip_empty_blocks": ("skip_empty_blocks", "skipEmptyBlocks"),
        "ordered": ("ordered",),
        "verbose": ("verbose",),
        "batch": ("batch_mode", "batchMode"),
    }.items():
        v = _pick(es, *names, default=_pick(data, *names))
        if isinstance(v, bool):
            flat[key] = v

    for key, names in {
        "backend": ("backend",),
        "templates_dir": ("templates_dir", "templates-dir", "fixtures_dir"),
        "rpc_url": ("rpc_url", "rpc-url"),
        "grpc_target": ("grpc_target", "grpc-target"),
        "splay_dir": ("splay_dir", "splay-dir"),
        "checkpoint": ("checkpoint",),
    }.items():
        v = _pick(data, *names)
        if v is not None:
            flat[key] = str(v)
    for key in ("console_nth", "max_retries"):
        v = _pick(data, key, key.replace("_", "-"))
        if v is not None:
            flat[key] = int(v)
    if "no_tx_meta" in data:
        flat["no_tx_meta"] = bool(data["no_tx_meta"])
    return flat


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="event-stream-spark",
        description="Stream/scan blocks to console, splayed JSON, or Kafka.",
    )
    p.add_argument("--config", default=None, help="YAML/JSON config file (es-cli application.yml analog)")
    # source (Config.kt: node/from/to)
    p.add_argument("--from-height", type=int, default=1)
    p.add_argument("--to-height", type=int, default=None)
    p.add_argument("--backend", default="synthetic", help="synthetic | fixtures | http | grpc")
    p.add_argument("--templates-dir", default=None, help="fixtures backend root")
    p.add_argument("--rpc-url", default=None, help="http backend: node RPC URL")
    p.add_argument("--grpc-target", default=None, help="grpc backend: node host:port")
    p.add_argument("--batch", action="store_true", help="bounded batch run (no stream)")
    # options (BlockStreamOptions.kt)
    p.add_argument("--skip-empty-blocks", action="store_true")
    p.add_argument("--tx-event", action="append", default=[], help="keep-filter, repeatable")
    p.add_argument("--block-event", action="append", default=[], help="keep-filter, repeatable")
    p.add_argument("--ordered", action="store_true", help="global height order (batch)")
    p.add_argument("--no-tx-meta", action="store_true", help="skip protobuf tx decode")
    # sinks (Main.kt:103-114 observer chain)
    p.add_argument("--console-nth", type=int, default=None, help="console sink, every nth")
    p.add_argument("--verbose", action="store_true", help="console: decode attributes")
    p.add_argument("--splay-dir", default=None, help="splayed JSON file sink dir")
    p.add_argument("--checkpoint", default=None, help="checkpointLocation (streaming)")
    p.add_argument("--max-retries", type=int, default=5)
    # analytics registry mode (runs any queries() entry instead of the pipeline)
    p.add_argument("--query", default=None, help="run a registry query by name")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="table dir for --query")
    p.add_argument("--out", default=None, help="--query: write result parquet here instead of showing")
    p.add_argument("--limit", type=int, default=20, help="--query: rows to show")
    p.add_argument("--list-queries", action="store_true", help="list registry query names")
    p.add_argument(
        "--explain",
        action="store_true",
        help="--query: print the formatted physical plan instead of running",
    )
    # snapshot-table administration (the lakehouse maintenance verbs)
    p.add_argument(
        "--table",
        default=None,
        help="snapshot-log table path for --table-admin",
    )
    p.add_argument(
        "--table-admin",
        default=None,
        metavar="VERB[:ARG]",
        help=(
            "history | count | compact[:target_files] | vacuum[:keep_last]"
            " | restore:SNAPSHOT | branch:NAME | merge:NAME | rebase:NAME"
            " | drop-branch:NAME | branches"
        ),
    )
    return p


def build_pipeline(spark, args) -> DataFrame:
    """Source + shared transforms (identical batch/streaming)."""
    from event_stream_spark.operators.filters import filter_by_events, skip_empty_blocks
    from event_stream_spark.operators.ordering import sort_by_height
    from event_stream_spark.streaming.combined import historical_stream

    options = {"backend": args.backend}
    for key, value in (
        ("fixtures_dir", args.templates_dir),
        ("rpc_url", args.rpc_url),
        ("grpc_target", args.grpc_target),
    ):
        if value:
            options[key] = value
    to = args.to_height
    if to is None and args.batch:
        raise SystemExit("--batch needs --to-height (bounded scan)")
    df = historical_stream(
        spark,
        args.from_height,
        to,
        streaming=not args.batch,
        decode_tx_meta=not args.no_tx_meta,
        **options,
    )
    if args.skip_empty_blocks:
        df = skip_empty_blocks(df)
    if args.tx_event or args.block_event:
        df = filter_by_events(df, args.tx_event, args.block_event)
    if args.ordered and args.batch:
        df = sort_by_height(df)
    return df


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Two-pass parse: config file fills parser defaults, then explicit CLI
    flags override them — hoplite's CLI > file precedence (Main.kt:65-70)."""
    parser = build_parser()
    pre, _ = parser.parse_known_args(argv)
    if pre.config:
        parser.set_defaults(**load_config(pre.config))
    return parser.parse_args(argv)


def _registry() -> dict:
    from event_stream_spark.datapipe import DATAPIPE_QUERIES
    from event_stream_spark.queries import QUERIES

    reg = dict(QUERIES)
    reg.update(DATAPIPE_QUERIES)
    return reg


def _table_admin(spark, table: str, verb_arg: str) -> None:
    """Lakehouse maintenance as CLI verbs — what an operator runs against
    a snapshot-log table without writing Python (history/compact/vacuum/
    restore/time-travel are ``snaplog``; branch verbs are ``snapbranch``)."""
    from event_stream_spark.sources import snaplog
    from event_stream_spark.sources import snapbranch

    verb, _, arg = verb_arg.partition(":")
    if verb == "history":
        for h in snaplog.history(table):
            print(h)
    elif verb == "count":
        print(snaplog.snap_count(table))
    elif verb == "compact":
        n = snaplog.compact(spark, table, target_files=int(arg or 4))
        print(f"compacted -> snapshot {n}")
    elif verb == "vacuum":
        removed = snaplog.vacuum(table, keep_last=int(arg or 1))
        print(f"removed {len(removed)} files")
    elif verb == "restore":
        if not arg:
            raise SystemExit("restore needs :SNAPSHOT")
        n = snaplog.restore(spark, table, int(arg))
        print(f"restored -> snapshot {n}")
    elif verb == "branch":
        bt = snapbranch.create_branch(table, arg)
        print(f"branch at {bt}")
    elif verb == "merge":
        n = snapbranch.merge_branch(spark, table, arg)
        print(f"merged {arg!r} -> snapshot {n}")
    elif verb == "merge-rows":
        # BRANCH,KEY[,ours|theirs] — row-level three-way merge for
        # key-identified tables (file-level conflicts resolved by rows)
        parts = [p for p in arg.split(",") if p]
        if len(parts) < 2:
            raise SystemExit("merge-rows needs :BRANCH,KEY[,ours|theirs]")
        prefer = parts[2] if len(parts) > 2 else None
        n = snapbranch.merge_branch_rows(
            spark, table, parts[0], key=parts[1], prefer=prefer
        )
        print(f"row-merged {parts[0]!r} by {parts[1]!r} -> snapshot {n}")
    elif verb == "rebase":
        n = snapbranch.rebase_branch(spark, table, arg)
        print(f"rebased {arg!r} -> branch snapshot {n}")
    elif verb == "drop-branch":
        snapbranch.drop_branch(table, arg)
        print(f"dropped {arg!r}")
    elif verb == "branches":
        for b in snapbranch.list_branches(table):
            print(b)
    else:
        raise SystemExit(f"unknown --table-admin verb {verb!r}")


def run(argv: list[str] | None = None) -> None:
    args = parse_args(argv)

    if args.list_queries:
        for name in sorted(_registry()):
            print(name)
        return

    from event_stream_spark.session import get_spark

    if args.table_admin:
        if not args.table:
            raise SystemExit("--table-admin requires --table")
        _table_admin(get_spark("event-stream-cli"), args.table, args.table_admin)
        return

    if args.query:
        reg = _registry()
        if args.query not in reg:
            raise SystemExit(
                f"unknown query {args.query!r}; --list-queries shows all"
            )
        spark = get_spark("event-stream-cli")
        spark.sparkContext.setLogLevel("WARN")
        result = reg[args.query](spark, args.sf_dir)
        if args.explain:
            # the plan-review loop (.explain("formatted")) as a CLI verb —
            # what you read before shipping a query to the real cluster
            result.explain("formatted")
            return
        if args.out:
            result.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            result.show(args.limit, truncate=True)
        return

    spark = get_spark("event-stream-cli")
    spark.sparkContext.setLogLevel("WARN")
    df = build_pipeline(spark, args)

    if args.batch:
        if args.splay_dir:
            from event_stream_spark.sinks.splay import write_splayed_json_batch

            write_splayed_json_batch(df, args.splay_dir)
        if args.console_nth:
            from event_stream_spark.operators.filters import sample_nth

            sample_nth(df, args.console_nth).show(20, truncate=True)
        if not args.splay_dir and not args.console_nth:
            print(f"rows: {df.count()}")
        return

    # streaming: sinks under the checkpointed restart loop (§2.9)
    if not args.checkpoint:
        raise SystemExit("streaming mode needs --checkpoint")
    from event_stream_spark.streaming.retry import run_with_restarts

    def start():
        if args.splay_dir:
            from event_stream_spark.sinks.splay import splayed_json_sink

            return splayed_json_sink(df, args.splay_dir, args.checkpoint).start()
        from event_stream_spark.sinks.console import console_observer

        return (
            console_observer(df, nth=args.console_nth or 100, verbose=args.verbose)
            .option("checkpointLocation", args.checkpoint)
            .start()
        )

    run_with_restarts(start, max_retries=args.max_retries)


if __name__ == "__main__":
    run()
