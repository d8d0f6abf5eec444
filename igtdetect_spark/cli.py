"""CLI mirroring the reference's ``detect-igt`` surface
(igtdetect/igtdetect.py:1988-2013): train / test / testdb / eval /
testeval / traintesteval / nfold / info — a user of the reference can run
the same workflows against this engine.

    python -m igtdetect_spark.cli test --test-files 'sample/*.txt' \
        --classifier-path model.npz --classified-dir out/classified \
        --detected-dir out/detected

Inputs are freki files (reference format) or a pages parquet directory
(``--pages``). Models are engine npz files; reference ``.model`` pickles
load transparently (weight extraction).
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark(args):
    from .session import build_session

    return build_session(
        app_name=f"igtdetect_spark_{args.subcommand}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def _lines_df(spark, args):
    """Input lines from freki files (glob) or a pages parquet dir."""
    from .operators.segment import segment_freki_files, segment_pages
    from .sources.pages import glob_paths, read_pages

    if getattr(args, "pages", None):
        return segment_pages(read_pages(spark, args.pages))
    paths = glob_paths(args.files)
    return segment_freki_files(spark, paths)


def _cfg(args):
    """PipelineConfig from --config INI cascade (default config without)."""
    from .config import DEFAULT_CONFIG, PipelineConfig

    inis = getattr(args, "config", None)
    if inis:
        return PipelineConfig.from_ini(*inis)
    return DEFAULT_CONFIG


def _lex(args):
    """Lexicons from the --config ini's [files] section when it names any
    wordlist/gram/langname path; the reference data files otherwise."""
    from .flagship import get_lexicons

    inis = getattr(args, "config", None)
    if inis:
        from .config import load_ini
        from .lexicons import load_lexicons_from_ini_paths

        _, paths = load_ini(*inis)
        lex_keys = {
            "en_wordlist", "gls_wordlist", "met_wordlist",
            "lng_names", "gram_list", "gram_list_cased",
        }
        if lex_keys & set(paths):
            return load_lexicons_from_ini_paths(paths)
    return get_lexicons()


def _ctx(spark, args):
    from .plans.pipeline import DetectContext
    from .refmodel import load_model

    model = load_model(args.classifier_path)
    return DetectContext(spark, model, _lex(args), cfg=_cfg(args))


def _widened(lines, lex_bc, cfg):
    from pyspark.sql import functions as F

    from .functions.labels import normalize_label_col
    from .operators.features import (
        bi_rewrite_tags,
        widen_context_df,
        with_features,
    )

    return widen_context_df(
        bi_rewrite_tags(with_features(lines, lex_bc, cfg)), cfg
    ).withColumn("norm_label", normalize_label_col(F.col("bi_tag"), cfg))


def _train(spark, args, cfg, files):
    """Model trained on the gold tags of the freki files ``files``."""
    from .operators.segment import segment_freki_files
    from .sources.pages import glob_paths
    from .training import train_model

    lex_bc = spark.sparkContext.broadcast(_lex(args))
    lines = segment_freki_files(spark, glob_paths(files))
    widened = _widened(lines, lex_bc, cfg)
    # parity training collects the feature rows to the driver — fine
    # for reference-sized corpora, unsafe at scale. Auto-route big
    # inputs to the Spark ML path instead of OOMing the driver.
    n_lines = widened.count()
    if n_lines > args.collect_threshold:
        print(
            f"{n_lines} training lines > --collect-threshold "
            f"{args.collect_threshold}: using the distributed "
            "Spark ML trainer", file=sys.stderr,
        )
        from .plans.train import feature_label_df, train_spark_ml

        return train_spark_ml(
            spark, feature_label_df(widened), max_features=args.max_features
        )
    rows = widened.select("features_ctx", "norm_label").collect()
    return train_model(
        [{f: True for f in r["features_ctx"]} for r in rows],
        [r["norm_label"] for r in rows],
        max_features=args.max_features,
    )


def cmd_train(args):
    from .refmodel import save_model

    spark = _spark(args)
    model = _train(spark, args, _cfg(args), args.files)
    save_model(model, args.classifier_path)
    print(f"trained: classes={model.classes} features={len(model.feature_names)} "
          f"→ {args.classifier_path}")
    spark.stop()


def cmd_test(args, spark=None, own_session=True):
    if spark is None:
        spark = _spark(args)
    from pyspark.sql import functions as F

    from .operators.score import score_lines
    from .operators.segment import render_freki_df
    from .operators.spans import assign_spans_df, detected_span_text
    from .plans.pipeline import detected_text_df

    ctx = _ctx(spark, args)
    lines = _lines_df(spark, args).cache()

    if getattr(args, "feat_dir", None):
        # feature-file export (reference igtdetect.py:122-132, get_feat_path
        # :266-270): <doc>_feats.txt[.gz] per input doc. Nothing reads the
        # files back: score_lines below always recomputes the features.
        import gzip as _gzip

        from .operators.features import render_svmlight_df

        os.makedirs(args.feat_dir, exist_ok=True)
        gz = args.gzip_feats
        suffix = "_feats.txt" + (".gz" if gz else "")

        def _feat_path(url: str) -> str:
            return os.path.join(
                args.feat_dir, url.split("/")[-1].split(".")[0] + suffix
            )

        # as in the reference (igtdetect.py:123-130), a doc whose feature
        # file already exists is not exported again unless
        # -f/--overwrite-features is given
        all_urls = [r["url"] for r in lines.select("url").distinct().collect()]
        todo = [
            u for u in all_urls
            if args.overwrite or not os.path.exists(_feat_path(u))
        ]
        if not todo:
            print(f"features: all {len(all_urls)} docs cached → "
                  f"{args.feat_dir}")
        else:
            widened = _widened(
                lines.filter(F.col("url").isin(todo)), ctx.lex_bc, ctx.cfg
            )
            by_url: dict[str, list] = {}
            for r in (
                render_svmlight_df(widened)
                .select("url", "line_no", "svmlight")
                .collect()
            ):
                by_url.setdefault(r["url"], []).append(
                    (r["line_no"], r["svmlight"])
                )
            for url, rows in by_url.items():
                opener = _gzip.open if gz else open
                with opener(_feat_path(url), "wt", encoding="utf-8") as f:
                    for _, line in sorted(rows):
                        f.write(line + "\n")
            print(f"features: {len(by_url)} docs written "
                  f"({len(all_urls) - len(todo)} cached) → {args.feat_dir}")

    scored = score_lines(lines, ctx.model_bc, ctx.lex_bc, ctx.cfg)
    pred_lines = lines.drop("tag").join(
        scored.select("url", "line_no", F.col("pred").alias("tag")),
        ["url", "line_no"],
    ).cache()

    if args.classified_dir:
        os.makedirs(args.classified_dir, exist_ok=True)
        rendered = render_freki_df(
            assign_spans_df(pred_lines.drop("span_id"), tag_col="tag")
        ).collect()
        for r in rendered:
            name = r["url"].split("/")[-1].split(".")[0] + "_classified.freki"
            with open(os.path.join(args.classified_dir, name), "w",
                      encoding="utf-8") as f:
                f.write(r["freki_text"])
        print(f"classified: {len(rendered)} docs → {args.classified_dir}")

    if args.detected_dir:
        os.makedirs(args.detected_dir, exist_ok=True)
        spans = detected_span_text(
            pred_lines.withColumn("pred", F.col("tag")), ctx.cfg
        )
        texts = detected_text_df(spans).collect()
        for r in texts:  # urls with zero spans never appear (empty-file unlink)
            name = r["url"].split("/")[-1].split(".")[0] + "_detected.txt"
            with open(os.path.join(args.detected_dir, name), "w",
                      encoding="utf-8") as f:
                f.write(r["detected_text"])
        print(f"detected: {len(texts)} docs with spans → {args.detected_dir}")

    pred_lines.unpersist()
    lines.unpersist()
    if own_session:
        spark.stop()


def cmd_eval(args, spark=None, own_session=True):
    if spark is None:
        spark = _spark(args)
    from pyspark.sql import functions as F

    from .operators.segment import segment_freki_files
    from .plans.selfeval import evaluate_lines
    from .sources.pages import glob_paths

    eval_paths = glob_paths(args.eval_files)
    eval_lines = segment_freki_files(spark, eval_paths)
    gold_paths = [
        os.path.join(
            args.gold_dir,
            os.path.basename(p).replace("_classified.freki", ".freki"),
        )
        for p in eval_paths
    ]
    gold_paths = [p for p in gold_paths if os.path.exists(p)]
    if not gold_paths:
        print(f"no gold files found in {args.gold_dir}", file=sys.stderr)
        sys.exit(2)
    gold_lines = segment_freki_files(spark, gold_paths)

    report = evaluate_lines(
        eval_lines.select("url", "line_no", F.col("tag").alias("pred")),
        gold_lines, _cfg(args), args.csv,
    ).report
    if args.out:
        with open(args.out, "w") as f:
            f.write(report + "\n")
    print(report)
    if own_session:
        spark.stop()


def cmd_info(args):
    from .refmodel import load_model
    from .training import top_weights

    model = load_model(args.classifier_path)
    print(f"classes={model.classes} features={len(model.feature_names)} "
          f"base={model.n_base}")
    for cls, feat, w in top_weights(model, args.num_feats):
        print(f"{cls:<6}{feat:<40}{w:>10.4f}")


def cmd_nfold(args):
    spark = _spark(args)
    from .plans.nfold import run_nfold

    lex_bc = spark.sparkContext.broadcast(_lex(args))
    widened = _widened(_lines_df(spark, args), lex_bc, _cfg(args))
    results, summary = run_nfold(
        widened, ratio=args.ratio, iters=args.iters, seed=args.seed,
        max_features=args.max_features,
    )
    for r in results:
        print(f"iter {r.iteration}: acc={r.accuracy:.3f} "
              f"non-O P/R/F={r.non_o_precision:.3f}/{r.non_o_recall:.3f}/{r.non_o_f1:.3f}")
    m, s = summary["accuracy"]
    print(f"accuracy mean/σ: {m:.3f}/{s:.3f}")
    spark.stop()


def cmd_testdb(args):
    spark = _spark(args)
    from .sources.docsdb import pages_matching_docs_db, read_docs_db
    from .sources.pages import read_pages
    from .plans.pipeline import detect_spans_fused

    docs = read_docs_db(spark, args.db, args.posprob)
    pages = pages_matching_docs_db(read_pages(spark, args.pages), docs)
    ctx = _ctx(spark, args)
    spans = detect_spans_fused(pages, ctx)
    n = spans.count()
    if args.out:
        spans.write.mode("overwrite").parquet(args.out)
    print(f"testdb: {n} spans from docs with posprob > {args.posprob}")
    spark.stop()


def main(argv=None):
    p = argparse.ArgumentParser(prog="igtdetect_spark")
    p.add_argument("--master", default=os.environ.get("SPARK_MASTER", "local[*]"))
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.add_argument(
        "-c", "--config", action="append", default=None, metavar="INI",
        help="INI config file(s), reference defaults.ini format; repeat to "
        "cascade (later files override earlier, like igtdetect -c)",
    )
    p.add_argument(
        "--feat-dir", default=None,
        help="export per-doc svmlight feature files <doc>_feats.txt[.gz] "
        "here; a doc whose file already exists is skipped unless -f is "
        "given. The files are not read back: scoring always recomputes "
        "the features",
    )
    p.add_argument(
        "-f", "--overwrite-features", dest="overwrite", action="store_true",
        help="overwrite previously generated feature files",
    )
    p.add_argument(
        "--gzip-feats", dest="gzip_feats", type=lambda s: s.lower() not in
        ("0", "off", "f", "false", "disabled", "n", "no"), default=True,
        help="gzip the feature files (default true, like the reference)",
    )
    sub = p.add_subparsers(dest="subcommand", required=True)

    def common_io(sp, files=True, model=True):
        if files:
            sp.add_argument("--files", help="freki file glob")
            sp.add_argument("--pages", help="pages parquet dir (alternative)")
        if model:
            sp.add_argument("--classifier-path", required=True)

    def train_opts(sp):
        sp.add_argument("--max-features", type=int, default=10000)
        sp.add_argument(
            "--collect-threshold", type=int, default=200_000,
            help="above this many training lines, route to the distributed "
            "Spark ML trainer instead of collecting features to the driver",
        )

    def eval_opts(sp):
        sp.add_argument("--gold-dir", required=True)
        sp.add_argument("--out")
        sp.add_argument("--csv", action="store_true")

    sp = sub.add_parser("train")
    common_io(sp, files=False)
    sp.add_argument("--files", required=True, help="training freki glob")
    train_opts(sp)
    sp.set_defaults(fn=cmd_train)

    sp = sub.add_parser("test")
    common_io(sp)
    sp.add_argument("--classified-dir")
    sp.add_argument("--detected-dir")
    sp.set_defaults(fn=cmd_test)

    sp = sub.add_parser("eval")
    sp.add_argument("--eval-files", required=True)
    eval_opts(sp)
    sp.set_defaults(fn=cmd_eval)

    sp = sub.add_parser("testeval")
    common_io(sp)
    sp.add_argument("--classified-dir", required=True)
    sp.add_argument("--detected-dir")
    eval_opts(sp)
    sp.set_defaults(fn="testeval")

    sp = sub.add_parser("traintesteval")
    sp.add_argument("--train-files", required=True)
    sp.add_argument("--files", help="test freki glob", required=True)
    sp.add_argument("--pages")
    sp.add_argument("--classifier-path", required=True)
    sp.add_argument("--classified-dir", required=True)
    sp.add_argument("--detected-dir")
    eval_opts(sp)
    train_opts(sp)
    sp.set_defaults(fn="traintesteval")

    sp = sub.add_parser("nfold")
    common_io(sp, model=False)
    sp.add_argument("--ratio", type=float, default=0.9)
    sp.add_argument("--iters", type=int, default=10)
    sp.add_argument("--seed", type=int, default=232)
    sp.add_argument("--max-features", type=int, default=5000)
    sp.set_defaults(fn=cmd_nfold)

    sp = sub.add_parser("info")
    sp.add_argument("--classifier-path", required=True)
    sp.add_argument("--num-feats", type=int, default=25)
    sp.set_defaults(fn=cmd_info)

    sp = sub.add_parser("testdb")
    sp.add_argument("--db", required=True)
    sp.add_argument("--pages", required=True)
    sp.add_argument("--classifier-path", required=True)
    sp.add_argument("--posprob", type=float, default=0.5)
    sp.add_argument("--out")
    sp.set_defaults(fn=cmd_testdb)

    args = p.parse_args(argv)

    if args.fn in ("testeval", "traintesteval"):
        spark = _spark(args)
        if args.fn == "traintesteval":
            from .refmodel import save_model

            model = _train(spark, args, _cfg(args), args.train_files)
            save_model(model, args.classifier_path)
        cmd_test(args, spark=spark, own_session=False)
        args.eval_files = os.path.join(args.classified_dir, "*_classified.freki")
        cmd_eval(args, spark=spark, own_session=False)
        spark.stop()
    else:
        args.fn(args)


if __name__ == "__main__":
    main()
