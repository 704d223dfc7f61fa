"""CLI mirroring the reference's scopt flag surface (SRC/Sentiment.scala:
199-210; SURVEY.md §3) so a user of the reference can run the same three
entry paths against this engine:

    # entry point A — analyze/predict
    python -m spark_sentiment_spark --input data.csv --method word-score \
        --output scored/
    python -m spark_sentiment_spark --input data.csv --method mlib \
        --model models/nb --output scored/

    # entry point B — train an MLlib model
    python -m spark_sentiment_spark --input labeled.csv --train \
        --method mlib --classifier naivebayes --model models/nb

    # entry point C — train word-score lists
    python -m spark_sentiment_spark --input labeled.csv --train \
        --method word-score --output wordlists/

Differences from the reference (documented in quirks.md): fixed CSV
sniffing semantics, string labels supported via StringIndexer, and
``--method nlp`` covers both our-nlp and databricks-nlp (same contract,
pluggable scorer).

Extension entry point D — the query catalog (no reference analogue):

    python -m spark_sentiment_spark --list-queries
    python -m spark_sentiment_spark --query dedup_exact \
        --sf-dir /root/testdata/sf0.01 --show 10 --output dups/
"""

from __future__ import annotations

import argparse
import os
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="spark_sentiment_spark",
        description="PySpark-native sentiment/analytics engine "
                    "(capabilities of witlox/spark_sentiment)")
    p.add_argument("--input", action="append",
                   help="input file (repeatable; first is used for "
                        "training, each is scored in analyze mode); "
                        "required unless --query/--list-queries")
    p.add_argument("--query", metavar="NAME",
                   help="run a catalog query by name against --sf-dir "
                        "(see --list-queries)")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="table directory for --query (default sf0.01)")
    p.add_argument("--list-queries", action="store_true",
                   help="list the query catalog and exit")
    p.add_argument("--output", help="output path (analyze: scored table; "
                                    "word-score training: word-list dirs)")
    p.add_argument("--column", help="text column (default: auto-detect)")
    p.add_argument("--label-column", help="label column for training "
                                          "(default: auto-detect)")
    p.add_argument("--method", default="word-score",
                   choices=["word-score", "mlib", "nlp"])
    p.add_argument("--classifier", default="all",
                   choices=["logistic", "naivebayes", "maxentropy", "all"])
    p.add_argument("--model", help="PipelineModel path (load for scoring, "
                                   "save target for training)")
    p.add_argument("--train", action="store_true")
    p.add_argument("--filetype", choices=["json", "csv", "txt", "parquet",
                                          "orc"])
    p.add_argument("--limit", type=int, default=100,
                   help="detection sample size (reference default 100)")
    p.add_argument("--output-type", default="parquet",
                   choices=["json", "csv", "txt", "parquet", "orc"])
    p.add_argument("--stem", action=argparse.BooleanOptionalAction,
                   default=True,
                   help="stem during cleaning; on by default like the "
                        "reference's --no-stem opt-out (Sentiment.scala:"
                        "27,208) — disable with --no-stem")
    p.add_argument("--master", help="Spark master (default local[CPUS])")
    p.add_argument("--show", type=int, default=0, metavar="N",
                   help="print N scored rows to stdout")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.list_queries:
        from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

        try:
            for name in all_queries():
                q = REGISTRY[name]
                family = q.fn.__module__.rsplit(".", 1)[-1]
                oracle = "oracle" if q.sql else "rows-only"
                print(f"{name}\t{family}\t{oracle}")
        except BrokenPipeError:      # e.g. piped into `head`
            sys.stderr.close()
        return 0

    if not args.query and not args.input:
        print("--input is required (or use --query/--list-queries)",
              file=sys.stderr)
        return 2

    from spark_sentiment_spark.session import get_spark

    spark = get_spark(master=args.master)
    try:
        if args.query:
            return _run_catalog_query(spark, args)
        if args.train:
            return _train(spark, args)
        return _analyze(spark, args)
    finally:
        spark.stop()


def _run_catalog_query(spark, args) -> int:
    from spark_sentiment_spark.plans.registry import all_queries, run

    queries = all_queries()
    if args.query not in queries:
        print(f"unknown query {args.query!r} (see --list-queries)",
              file=sys.stderr)
        return 2
    with run():
        df = queries[args.query](spark, args.sf_dir)
        if args.output:
            from spark_sentiment_spark.sources.io import save

            save(df, args.output, args.output_type)
        if args.show or not args.output:
            df.show(args.show or 20, truncate=60)
    return 0


def _analyze(spark, args) -> int:
    from spark_sentiment_spark.analyze import analyze

    if args.method == "mlib" and not args.model:
        print("--method mlib needs --model", file=sys.stderr)
        return 2
    outs = _per_input_outputs(args.input, args.output)
    for path, out in zip(args.input, outs):
        scored = analyze(spark, path, method=args.method,
                         column=args.column, filetype=args.filetype,
                         model_path=args.model, stem=args.stem,
                         limit=args.limit, output=out,
                         output_type=args.output_type)
        if args.show:
            scored.show(args.show, truncate=60)
    return 0


def _per_input_outputs(inputs: list[str], output: str | None) -> list[str | None]:
    """With several inputs and one --output, each analyze() would
    save(mode='overwrite') onto the same path and only the last input's
    scored table would survive — write each input to its own subpath
    instead (basename-keyed, index-suffixed on collision)."""
    if output is None or len(inputs) == 1:
        return [output] * len(inputs)
    root = output.rstrip("/")
    seen: dict[str, int] = {}
    outs = []
    for i, path in enumerate(inputs):
        base = os.path.splitext(os.path.basename(path.rstrip("/")))[0] \
            or f"input_{i}"
        n = seen.get(base, 0)
        seen[base] = n + 1
        outs.append(f"{root}/{base}_{n}" if n else f"{root}/{base}")
    return outs


def _train(spark, args) -> int:
    from spark_sentiment_spark.analyze import CLEANED_COL
    from spark_sentiment_spark.functions.text import clean_source
    from spark_sentiment_spark.operators.detection import detect_text_column
    from spark_sentiment_spark.sources.io import load

    path = args.input[0]  # single-source training (quirks.md #3)
    df, _ = load(spark, path, filetype=args.filetype)
    text_col = args.column or detect_text_column(df, args.limit)
    if text_col is None:
        print(f"no text column detected in {path!r}", file=sys.stderr)
        return 2
    cleaned = clean_source(df, text_col, CLEANED_COL,
                           stem=(args.method == "word-score") or args.stem)

    if args.method == "word-score":
        from spark_sentiment_spark.operators.detection import \
            detect_categorical_column
        from spark_sentiment_spark.operators.wordlist_extraction import \
            save_wordlists

        if not args.output:
            print("word-score training needs --output", file=sys.stderr)
            return 2
        label = args.label_column or detect_categorical_column(
            cleaned, args.limit)
        if label is None:
            print("no label column detected; pass --label-column",
                  file=sys.stderr)
            return 2
        save_wordlists(cleaned, CLEANED_COL, label, args.output)
        print(f"word lists written to {args.output}")
        return 0

    from spark_sentiment_spark.operators.mllib_pipeline import train

    if not args.model:
        print("mlib training needs --model (save path)", file=sys.stderr)
        return 2
    result = train(cleaned, CLEANED_COL, classifier=args.classifier,
                   limit=args.limit)
    result.save(args.model)
    print(f"{result.classifier} model saved to {args.model} "
          f"(validation accuracy {result.precision:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
