"""CLI parity with the reference's `python -m src.run` subcommands
(run.py:173-181 + the compiled validate/metrics/graph/kg/report
entries), re-expressed over corpus tables instead of one PDF:

  python -m pdf_parser_spark extract   --input docs.parquet --outdir out/
  python -m pdf_parser_spark toc       --input docs.parquet --out toc/
  python -m pdf_parser_spark chunk     --input docs.parquet --out chunks/
  python -m pdf_parser_spark validate  --toc toc/ --chunks chunks/ --out validation/
  python -m pdf_parser_spark metrics   --input docs.parquet --out metrics/
  python -m pdf_parser_spark report    --outdir out/ --out out/final_report.json
  python -m pdf_parser_spark toc-graph --input docs.parquet --out graph/
  python -m pdf_parser_spark kg        --input docs.parquet --out triples/
  python -m pdf_parser_spark html-text --input docs.parquet --out text/
  python -m pdf_parser_spark html-meta --input docs.parquet --out meta/
  python -m pdf_parser_spark curate    --input docs.parquet --outdir curated/

Every command is a thin shell over the operators; `extract` is the
whole lifecycle in one pass (the reference's orchestrate.py), and
`curate` is the training-data hygiene pass (quality filters, PII
redaction, exact + near dedup) from jobs/curate.py. `extract` writes
one table, `out/extracted`; `report` projects its validation and
metrics columns and rolls them up.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    from .plans.session import CPUS_HELP, get_spark

    ap = argparse.ArgumentParser(prog="pdf_parser_spark", description=__doc__)
    ap.add_argument("command", choices=[
        "extract", "toc", "chunk", "validate", "metrics", "report",
        "toc-graph", "kg", "html-text", "html-meta", "curate",
    ])
    ap.add_argument("--input")
    ap.add_argument("--toc")
    ap.add_argument("--chunks")
    ap.add_argument("--out")
    ap.add_argument("--outdir")
    ap.add_argument("--cpus", type=int, default=None, help=CPUS_HELP)
    ap.add_argument("--resume", action="store_true")
    # reference run.py / run.pyc knobs (--min-dots, --strip-dot-leaders,
    # --fuzzy-threshold, --prefer-section-id), corpus-level here
    ap.add_argument("--min-dots", type=int, default=0)
    ap.add_argument("--strip-dot-leaders", action="store_true")
    ap.add_argument("--fuzzy-threshold", type=float, default=0.90)
    ap.add_argument("--prefer-section-id", action="store_true", default=True)
    ap.add_argument("--no-prefer-section-id", dest="prefer_section_id", action="store_false")
    args = ap.parse_args(argv)
    spark = get_spark(app_name=f"pps-{args.command}", cpus=args.cpus)

    if args.command == "extract":
        from jobs.extract import run as run_job

        print(json.dumps(run_job(args.input, args.outdir, resume=args.resume, spark=spark)))
        return
    if args.command == "curate":
        from jobs.curate import run as run_curate

        print(json.dumps(run_curate(args.input, args.outdir, spark=spark, resume=args.resume)))
        return

    from .operators import extract as ox
    from .sources.corpus import read_documents

    if args.command in ("toc", "chunk", "metrics"):
        extracted = ox.extract_documents(
            read_documents(spark, args.input),
            min_dots=args.min_dots,
            strip_dots=args.strip_dot_leaders,
        )
        table = {"toc": ox.toc_table, "chunk": ox.chunks_table, "metrics": ox.metrics_table}[
            args.command
        ](extracted)
        table.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"command": args.command, "rows": spark.read.parquet(args.out).count()}))
    elif args.command == "validate":
        from .operators.validate_dist import validate_distributed

        v = validate_distributed(
            spark.read.parquet(args.toc),
            spark.read.parquet(args.chunks),
            fuzzy_threshold=args.fuzzy_threshold,
            prefer_section_id=args.prefer_section_id,
        )
        v.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"command": "validate", "rows": spark.read.parquet(args.out).count()}))
    elif args.command == "report":
        from .sinks import snapshots as sn
        from .sinks.reports import final_report, write_report_json

        extracted = sn.read(spark, f"{args.outdir}/extracted")
        report = final_report(
            ox.validation_table(extracted).where("toc_section_count is not null"),
            ox.metrics_table(extracted).where("total_sections is not null"),
        )
        write_report_json(report, args.out)
        print(json.dumps({"command": "report", "out": args.out}))
    elif args.command == "toc-graph":
        from .operators.graph import toc_graph_json

        extracted = ox.extract_documents(read_documents(spark, args.input))
        toc_graph_json(ox.toc_table(extracted)).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"command": "toc-graph", "rows": spark.read.parquet(args.out).count()}))
    elif args.command == "kg":
        from .operators.graph import extract_triples, sentences_from_text

        docs = read_documents(spark, args.input)
        triples = extract_triples(sentences_from_text(docs))
        triples.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"command": "kg", "rows": spark.read.parquet(args.out).count()}))
    elif args.command == "html-text":
        from .operators.html_extract import html_main_text

        html_main_text(read_documents(spark, args.input)).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"command": "html-text", "rows": spark.read.parquet(args.out).count()}))
    elif args.command == "html-meta":
        from .operators.html_extract import html_metadata

        html_metadata(read_documents(spark, args.input)).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"command": "html-meta", "rows": spark.read.parquet(args.out).count()}))


if __name__ == "__main__":
    sys.path.insert(0, ".")
    main()
