"""Command-line entry points mirroring the reference's `walker` binary
(reference: cmd/cmd.go — crawl / dispatch / seed / console):

    python -m walker_spark.cli seed     --root DIR --url http://a.com/ [...]
    python -m walker_spark.cli dispatch --root DIR [--iterations K]
    python -m walker_spark.cli fetch    --root DIR [--iterations K]
    python -m walker_spark.cli run      --root DIR [--iterations K]   # dispatch+fetch supersteps
    python -m walker_spark.cli console  --root DIR [--dom D]          # list domains / links
    python -m walker_spark.cli schema   [--out F] [--catalog C]       # rendered DDL (cmd.go:440-468)
    python -m walker_spark.cli readlink --root DIR --url U [--body-only|--meta-only]

Config comes from --config (JSON file shaped like walker.yaml sections,
Go duration strings accepted). Designed for `spark-submit --py-files
walker_spark.zip walker_spark/cli.py ...` on a real cluster; running
under plain `python` builds a local[*] session.
"""

from __future__ import annotations

import argparse
import json
import time

from walker_spark.config import WalkerConfig


def _build_spark(cpus: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName("walker-spark")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .master(f"local[{cpus}]")
        .getOrCreate()
    )


def _load_cfg(path: str | None) -> WalkerConfig:
    if not path:
        return WalkerConfig()
    with open(path, encoding="utf-8") as f:
        return WalkerConfig.from_dict(json.load(f))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="walker-spark")
    ap.add_argument(
        "command",
        choices=[
            "seed", "dispatch", "fetch", "run", "console", "console-http",
            "schema", "readlink",
        ],
    )
    ap.add_argument("--root", help="frontier store directory")
    ap.add_argument("--config", help="JSON config (walker.yaml-shaped sections)")
    ap.add_argument("--url", action="append", default=[], help="seed url (repeatable)")
    ap.add_argument("--iterations", type=int, default=1)
    ap.add_argument("--dom", help="console: list links for this domain")
    ap.add_argument("--cpus", default="*")
    ap.add_argument("--resume", action="store_true", help="continue from the last checkpoint")
    ap.add_argument("--out", help="schema: write the DDL to this file (default stdout)")
    ap.add_argument("--catalog", default="crawl", help="schema: Iceberg catalog name")
    ap.add_argument("--buckets", type=int, default=8192, help="schema: bucket count")
    ap.add_argument("--port", type=int, default=3000, help="console-http: listen port")
    ap.add_argument("--body-only", action="store_true", help="readlink: body only")
    ap.add_argument("--meta-only", action="store_true", help="readlink: metadata only")
    args = ap.parse_args(argv)

    if args.command == "schema":
        # pure config->DDL rendering (cmd/cmd.go:440-468) — no Spark
        # session, no store; substitutes catalog + bucket count the way
        # the reference substitutes keyspace/replication from walker.yaml
        from walker_spark.plans.schemas import DOMAIN_INFO_MERGE_SQL, iceberg_ddl

        ddl = iceberg_ddl(catalog=args.catalog, num_buckets=args.buckets)
        text = (
            "\n\n".join(stmt.strip() for stmt in ddl.values())
            + "\n\n-- per-superstep domain_info commit (row-touch MERGE):\n"
            + DOMAIN_INFO_MERGE_SQL.format(catalog=args.catalog).strip()
            + "\n"
        )
        if args.out:
            with open(args.out, "w", encoding="utf-8") as f:
                f.write(text)
        else:
            print(text, end="")
        return 0

    if not args.root:
        ap.error(f"{args.command} requires --root")
    spark = _build_spark(args.cpus)
    cfg = _load_cfg(args.config)

    from walker_spark.streaming.loop import CrawlEngine

    engine = CrawlEngine(spark, args.root, cfg)

    if args.command == "seed":
        if not args.url:
            ap.error("seed requires at least one --url")
        print(json.dumps(engine.seed(args.url)))
        return 0

    now_ms = int(time.time() * 1000)
    if args.command == "dispatch":
        from walker_spark.operators.dispatch import run_dispatch

        for i in range(args.iterations):
            print(json.dumps(run_dispatch(engine.store, cfg, now_ms, iteration=i)))
        return 0
    if args.command == "fetch":
        from walker_spark.operators.fetch import run_fetch

        for i in range(args.iterations):
            print(json.dumps(run_fetch(engine.store, cfg, now_ms, iteration=i)))
        return 0
    if args.command == "run":
        out = engine.run(
            iterations=args.iterations,
            start_now_ms=now_ms,
            from_checkpoint=args.resume,
        )
        print(json.dumps(out))
        return 0
    if args.command == "console":
        from walker_spark.operators import console

        if args.dom:
            console.list_links(engine.store, args.dom).show(50, truncate=False)
        else:
            console.list_domains(engine.store).show(50, truncate=False)
        return 0
    if args.command == "console-http":
        from walker_spark.operators import console_http

        print(f"walker-spark console on http://127.0.0.1:{args.port}")
        console_http.serve(engine.store, cfg, port=args.port)
        return 0
    if args.command == "readlink":
        from walker_spark.operators import console

        if len(args.url) != 1:
            ap.error("readlink requires exactly one --url")
        if args.body_only and args.meta_only:
            ap.error("can't specify both --body-only and --meta-only")
        report = console.read_link(
            engine.store, args.url[0],
            body_only=args.body_only, meta_only=args.meta_only,
        )
        if report is None:
            print(f"Failed to find link {args.url[0]} in datastore")
            return 1
        print(report, end="")
        return 0
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
