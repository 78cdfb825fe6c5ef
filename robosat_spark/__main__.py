"""CLI dispatcher: the engine's analog of the reference's ``rs <tool>``
(/root/reference/robosat/tools/__main__.py:22-59 — argparse subparsers,
``args.func(args)``). Each subcommand is a thin wrapper: read parquet (or
GeoJSON for features), call the operator, write parquet/GeoJSON.

    python -m robosat_spark cover     --features F --zoom 14 --out O
    python -m robosat_spark rasterize --features F --tiles T --zoom 18 --size 512 --out O
    python -m robosat_spark predict   --masks M --out O
    python -m robosat_spark features  --masks M --out O
    python -m robosat_spark merge     --features F --threshold 25 --out O.geojson
    python -m robosat_spark dedupe    --pred P --osm G --threshold 0.5 --out O
    python -m robosat_spark assign    --pages P --features F --zoom 18 --out O
    python -m robosat_spark subset    --tiles T.csv --masks M --out O
    python -m robosat_spark masks     --probs P --out O
    python -m robosat_spark compare   --masks M --truth T --out O
    python -m robosat_spark weights   --masks M [--classes 2] [--out O]
    python -m robosat_spark download  --tiles T.csv --url TPL --out DIR
    python -m robosat_spark serve     --grids G [--port 5000]
    python -m robosat_spark table     {write,snapshots,compact,delete,expire,upsert}
                                      --path T [--data P] [--partition-by C]
                                      [--transform bucket[N]] [--stats C,...]
    python -m robosat_spark curate    --pages P --out O [--blocklist F]
                                      [--min-quality Q] [--redact]
    python -m robosat_spark sketch    {hll,cms} --path P --col C [--out O]
    python -m robosat_spark sketch    merge --rule {hll,cms,hist,bloom}
                                      --inputs R1 R2 ... --out O
    python -m robosat_spark pack      --docs P --out O [--chunk-tokens 64]
                                      [--overlap 16] [--seq-tokens 256]

Reference tool parity: cover/rasterize/predict/masks/features/merge/dedupe/
subset/compare/weights/download/serve map to the 14-tool registry of
/root/reference/robosat/tools/__main__.py:22-59 (train/export are out of
scope per SURVEY §2.4).
"""

from __future__ import annotations

import argparse
import sys


def _features(spark, path):
    from .sources.fixtures import features_from_geojson

    if path.endswith(".json") or path.endswith(".geojson"):
        return features_from_geojson(spark, path)
    return spark.read.parquet(path)


def cmd_cover(spark, args):
    from .operators.cover import cover
    from .sources.sinks import write_tiles_csv

    tiles = cover(_features(spark, args.features), args.zoom, keep_feature_id=False)
    write_tiles_csv(tiles.select("x", "y", "z"), args.out)


_MASK_PALETTE = ["white", "denim"]  # bg, fg — the reference's mask colors


def _write_masks(masks, out: str, fmt: str) -> None:
    """parquet (engine-native, partitioned z/x) or png (reference slippy
    z/x/y.png layout via the from-scratch codec)."""
    if fmt == "png":
        from .functions.colors import class_palette
        from .sources.sinks import write_slippy_pngs

        write_slippy_pngs(masks, out, palette=class_palette(_MASK_PALETTE))
    else:
        masks.write.mode("overwrite").partitionBy("z", "x").parquet(out)


def cmd_rasterize(spark, args):
    from .operators.rasterize import rasterize_masks
    from .sources.fixtures import tiles_from_csv

    tiles = tiles_from_csv(spark, args.tiles)
    masks = rasterize_masks(spark, tiles, _features(spark, args.features), args.zoom, args.size)
    _write_masks(masks, args.out, args.format)


def cmd_predict(spark, args):
    from .operators.rasterize import probs_to_masks, synthesize_probs

    masks = spark.read.parquet(args.masks)
    _write_masks(probs_to_masks(synthesize_probs(masks, noise=args.noise)), args.out, args.format)


def cmd_features(spark, args):
    from .operators.features import extract_features, to_feature_table

    masks = spark.read.parquet(args.masks)
    feats = to_feature_table(extract_features(masks))
    feats.write.mode("overwrite").parquet(args.out)


def cmd_merge(spark, args):
    from .operators.merge import merge_features
    from .sources.sinks import save_feature_collection

    merged = merge_features(spark, _features(spark, args.features), args.threshold)
    out = merged.selectExpr(
        "component AS feature_id", "'Polygon' AS kind", "component AS geom_id",
        "rings", "map('area', cast(cast(area_m2 AS LONG) AS STRING)) AS props",
    )
    if args.out.endswith(".json") or args.out.endswith(".geojson"):
        save_feature_collection(out, args.out)
    else:
        out.write.mode("overwrite").parquet(args.out)


def cmd_dedupe(spark, args):
    from .operators.dedupe import dedupe, dedupe_kept_features

    pred = _features(spark, args.pred)
    osm = _features(spark, args.osm)
    verdicts = dedupe(spark, pred, osm, threshold=args.threshold)
    dedupe_kept_features(pred, verdicts).write.mode("overwrite").parquet(args.out)


def cmd_assign(spark, args):
    from .operators.spatial_join import assign

    pages = spark.read.parquet(args.pages)
    features = _features(spark, args.features)
    assigned = assign(spark, pages, features, args.zoom, cluster_by_cell=True)
    assigned.write.mode("overwrite").parquet(args.out)


def cmd_subset(spark, args):
    """`rs subset` analog (/root/reference/robosat/tools/subset.py): keep
    only the tiles named in the cover CSV — a broadcast left-semi join on
    (z, x, y) instead of a filesystem copy loop."""
    from pyspark.sql import functions as F

    from .sources.fixtures import tiles_from_csv

    tiles = tiles_from_csv(spark, args.tiles)
    df = spark.read.parquet(args.masks)
    out = df.join(F.broadcast(tiles), ["z", "x", "y"], "left_semi")
    out.write.mode("overwrite").partitionBy("z", "x").parquet(args.out)


def cmd_masks(spark, args):
    """`rs masks` analog (/root/reference/robosat/tools/masks.py): quantized
    probability grids -> argmax class masks (the multi-model soft-vote path
    is `python -m robosat_spark predict` / operators.ensemble)."""
    from .operators.rasterize import probs_to_masks

    probs = spark.read.parquet(args.probs)
    _write_masks(probs_to_masks(probs), args.out, args.format)


def cmd_compare(spark, args):
    """`rs compare` analog (/root/reference/robosat/tools/compare.py):
    score a mask set against truth (global confusion counts + mIoU/fgIoU/
    MCC), and with --composites also write the reference's side-by-side
    visualization — [truth | mask] horizontally concatenated per tile,
    keep-filtered by foreground share, as slippy z/x/y.png via the
    from-scratch codec (r5; the reference's leading imagery column has no
    source in this engine's data model)."""
    from .operators.ensemble import compare_composites, confusion_counts, segmentation_metrics

    pred = spark.read.parquet(args.masks)
    truth = spark.read.parquet(args.truth)
    metrics = segmentation_metrics(confusion_counts(pred, truth))
    if args.out:
        metrics.write.mode("overwrite").parquet(args.out)
    else:
        for r in metrics.collect():
            print(r.asDict())
    if args.composites:
        from .functions.colors import class_palette
        from .sources.sinks import write_slippy_pngs

        comp = compare_composites(
            truth, [pred], minimum=args.minimum, maximum=args.maximum
        )
        write_slippy_pngs(comp, args.composites,
                          palette=class_palette(_MASK_PALETTE))
        print(f"composites -> {args.composites}")


def cmd_weights(spark, args):
    """`rs weights` analog (/root/reference/robosat/tools/weights.py):
    class histogram over masks -> 1/ln(1.02+p) weights, printed like the
    reference (and optionally written as parquet)."""
    from .operators.weights import class_histogram, class_weights

    masks = spark.read.parquet(args.masks)
    out = class_weights(class_histogram(masks, num_classes=args.classes))
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    else:
        rows = out.orderBy("class").collect()
        print([round(r["weight"], 6) for r in rows])


def cmd_download(spark, args):
    """`rs download` analog (/root/reference/robosat/tools/download.py):
    tiles.csv + a {z}/{x}/{y} template -> slippy dir, rate-limited,
    skip-existing resume. http(s), file://, and plain-path templates."""
    from .sources.fixtures import tiles_from_csv
    from .sources.sinks import download_tiles

    tiles = tiles_from_csv(spark, args.tiles)
    download_tiles(tiles, args.url, args.out, rate_per_sec=args.rate, ext=args.ext)


def cmd_serve(spark, args):
    """`rs serve` analog (/root/reference/robosat/tools/serve.py): HTTP
    GET /z/x/y.png over a slippy-parquet grid layout, partition-pruned
    lookups, from-scratch PNG encoding."""
    from .functions.colors import class_palette
    from .operators.serve import make_tile_server

    grids = spark.read.parquet(args.grids)
    srv = make_tile_server(
        grids, host=args.host, port=args.port, palette=class_palette(_MASK_PALETTE)
    )
    print(f"serving tiles on http://{args.host}:{args.port}/z/x/y.png")
    if args.requests > 0:  # bounded mode for scripted runs/tests
        for _ in range(args.requests):
            srv.handle_request()
    else:
        srv.serve_forever()


def cmd_table(spark, args):
    """Iceberg table maintenance over the from-scratch connector
    (sources/iceberg.py): snapshot listing, compaction (optionally
    clustered), row deletes by range predicate, snapshot expiry."""
    from .sources.iceberg import (
        IcebergTable,
        compact_table,
        delete_rows,
        expire_snapshots,
        upsert,
        write_iceberg,
    )

    if args.action == "write":
        if not args.data:
            raise SystemExit("table write requires --data <parquet>")
        df = spark.read.parquet(args.data)
        if args.partition_by and args.partition_by not in df.columns:
            raise SystemExit(
                f"--partition-by column {args.partition_by!r} not in --data"
            )
        if args.transform != "identity":
            from .functions.bucket import parse_bucket_transform

            if parse_bucket_transform(args.transform) is None:
                raise SystemExit(
                    f"--transform must be identity or bucket[N], got {args.transform!r}"
                )
            if not args.partition_by:
                raise SystemExit("--transform requires --partition-by")
        stats = tuple(c.strip() for c in (args.stats or "").split(",") if c.strip())
        missing = [c for c in stats if c not in df.columns]
        if missing:
            raise SystemExit(f"--stats columns not in --data: {missing}")
        sid = write_iceberg(
            spark, df, args.path, partition_by=args.partition_by,
            stats_cols=stats, partition_transform=args.transform,
        )
        part = (
            f" partitioned by {args.transform}({args.partition_by})"
            if args.partition_by else ""
        )
        print(f"wrote snapshot {sid}{part} -> {args.path}")
    elif args.action == "snapshots":
        t = IcebergTable(args.path)
        for s in t.snapshots():
            print(
                f"id={s['snapshot-id']} ts={s['timestamp-ms']} "
                f"op={s.get('summary', {}).get('operation')}"
            )
    elif args.action == "compact":
        sid = compact_table(
            spark, args.path, target_files=args.target_files, sort_by=args.sort_by
        )
        print(f"compacted -> snapshot {sid}")
    elif args.action == "delete":
        if not args.where or args.where.count(":") < 2:
            raise SystemExit(
                "table delete requires --where col:op:value (op in = < <= > >=)"
            )
        col, op, lit = args.where.split(":", 2)
        if op not in ("=", "<", "<=", ">", ">="):
            raise SystemExit(f"unsupported delete op {op!r} (use = < <= > >=)")
        value: object = lit
        try:
            value = int(lit)
        except ValueError:
            try:
                value = float(lit)
            except ValueError:
                pass
        sid = delete_rows(spark, args.path, [(col, op, value)])
        print(f"deleted rows where {col} {op} {value!r} -> snapshot {sid}")
    elif args.action == "upsert":
        if not args.data or not args.keys:
            raise SystemExit("table upsert requires --data <parquet> and --keys col[,col]")
        df = spark.read.parquet(args.data)
        keys = [k.strip() for k in args.keys.split(",") if k.strip()]
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise SystemExit(f"upsert key columns not in --data: {missing}")
        from pyspark.sql import functions as F

        # one pre-commit job doing both: total rows AND key uniqueness —
        # duplicate key tuples in --data would equality-delete the key
        # once then append BOTH versions, leaving permanent duplicates
        # behind a command that prints "MERGE-by-key"
        row = df.agg(
            F.count("*").alias("n"), F.count_distinct(*[F.col(k) for k in keys]).alias("k")
        ).first()
        if row["n"] != row["k"]:
            raise SystemExit(
                f"--data has {row['n'] - row['k']} duplicate {keys} tuples; "
                "dedupe to one row version per key before upserting"
            )
        sid_del, sid_add = upsert(spark, args.path, df, keys)
        print(f"upserted {row['n']} rows by {keys} -> snapshots {sid_del},{sid_add}")
    elif args.action == "expire":
        n = expire_snapshots(args.path, keep_last=args.keep_last)
        print(f"expired {n} snapshots")


def cmd_curate(spark, args):
    """Web-corpus curation pass over a pages/documents parquet: domain
    blocklist filter (eTLD+1, public-suffix aware) + optional PII
    redaction + optional quality floor — the source-level filter stack
    every training corpus runs before tokenization. Writes the surviving
    rows; prints kept/dropped counts."""
    from pyspark.sql import functions as F

    from .functions.text import quality_score, redact_pii
    from .functions.urls import filter_blocklisted_domains

    df = spark.read.parquet(args.pages)
    n_in = df.count()
    if args.blocklist:
        # lowercase to match the lowercased registered_domain join key
        # (a mixed-case entry would silently never match), skip blank
        # lines and '#' comments — the common hosts-file conventions
        bl = spark.read.text(args.blocklist).select(
            F.lower(F.trim(F.col("value"))).alias("domain")
        ).filter((F.col("domain") != "") & ~F.col("domain").startswith("#"))
        df = filter_blocklisted_domains(df, bl, url_col=args.url_col)
    if args.min_quality is not None:
        df = df.filter(quality_score(F.col(args.text_col)) >= args.min_quality)
    if args.redact:
        df = df.withColumn(args.text_col, redact_pii(F.col(args.text_col)))
    df.write.mode("overwrite").parquet(args.out)
    n_out = spark.read.parquet(args.out).count()
    print(f"curate: kept {n_out}/{n_in} rows -> {args.out}")


def cmd_sketch(spark, args):
    """Distinct-count (HLL) or point-frequency (CMS) sketch over one
    column of a parquet table: writes the register/counter table (the
    re-aggregatable slice artifact) and prints the readout. ``sketch
    merge`` combines previously stored register tables (parquet or
    Iceberg) by the family's rule — MAX for HLL, SUM for CMS/histogram,
    set UNION for Bloom — the merge-later half of the sketch-per-slice
    lineage pattern."""
    import os

    from pyspark.sql import functions as F

    from .operators.sketch import cms_buckets, hll_buckets, hll_estimate

    if args.kind == "merge":
        if not args.inputs or not args.out:
            raise SystemExit("sketch merge requires --inputs and --out")
        from .operators.sketch import merge_sketch_slices
        from .sources.iceberg import IcebergTable

        def load(path):
            if os.path.exists(os.path.join(path, "metadata", "version-hint.text")):
                return IcebergTable(path).scan(spark)
            return spark.read.parquet(path)

        merged = merge_sketch_slices([load(p) for p in args.inputs], args.rule)
        merged.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        msg = f"merged {len(args.inputs)} {args.rule} register tables -> {args.out} ({n} rows)"
        if args.rule == "hll":
            est = merged.agg(hll_estimate(p=args.p)).first()["estimate"]
            msg += f"; estimated {est:.1f} distinct"
        print(msg)
        return

    if not args.path or not args.col:
        raise SystemExit(f"sketch {args.kind} requires --path and --col")
    df = spark.read.parquet(args.path)
    if args.kind == "hll":
        regs = hll_buckets(df, args.col, p=args.p)
        if args.out:
            regs.write.mode("overwrite").parquet(args.out)
        est = regs.agg(hll_estimate(p=args.p)).first()["estimate"]
        print(f"hll p={args.p}: estimated {est:.1f} distinct {args.col}")
    else:
        regs = cms_buckets(df, args.col, d=args.d, w=args.w)
        if args.out:
            regs.write.mode("overwrite").parquet(args.out)
        top = regs.agg(F.max("cnt").alias("m")).first()["m"]
        print(f"cms d={args.d} w={args.w}: counter table written, max cell {top}")


def cmd_index(spark, args):
    """Inverted-index verbs: ``index build`` materializes a posting-list
    Iceberg table bucketed by token (corpus stats in the snapshot
    summary); ``index query`` runs BM25 for the given terms straight off
    the index — pruned point scans, no corpus read."""
    from .operators.relevance import bm25_from_index, write_inverted_index

    if args.action == "build":
        if not args.docs:
            raise SystemExit("index build requires --docs")
        docs = spark.read.parquet(args.docs)
        snap = write_inverted_index(
            spark, docs, args.table, n_buckets=args.buckets,
            text_col=args.text_col, id_col=args.id_col,
        )
        print(f"index build: snapshot {snap} -> {args.table} "
              f"(bucket[{args.buckets}] on token)")
    else:
        if not args.terms:
            raise SystemExit("index query requires --terms")
        scores = bm25_from_index(
            spark, args.table, args.terms, id_col=args.id_col
        )
        from pyspark.sql import functions as F

        for r in scores.orderBy(
            F.col("score").desc(), F.col(args.id_col).asc()
        ).limit(args.top).collect():
            print(f"{r[args.id_col]}\t{r['score']}")


def cmd_pack(spark, args):
    """Chunk + sequence-pack a documents parquet: sliding windows of
    ``--chunk-tokens`` (overlap ``--overlap``), laid head-to-tail in
    global (doc_id, chunk_idx) order and cut every ``--seq-tokens``.
    Writes one row per chunk with tok_offset / seq_first / seq_last,
    partitioned by ``seq_bucket = seq_first DIV 1024`` so one training
    shard maps to one directory; prints chunk / sequence totals."""
    from pyspark.sql import functions as F

    from .operators.chunking import chunk_documents, pack_chunks

    docs = spark.read.parquet(args.docs)
    pk = pack_chunks(
        chunk_documents(
            docs, text_col=args.text_col, id_col=args.id_col,
            chunk_tokens=args.chunk_tokens, overlap=args.overlap,
        ),
        seq_tokens=args.seq_tokens,
        id_col=args.id_col,
    ).withColumn("seq_bucket", F.expr("seq_first DIV 1024"))
    pk.write.mode("overwrite").partitionBy("seq_bucket").parquet(args.out)
    done = spark.read.parquet(args.out)
    n_chunks, n_seqs = done.agg(
        F.count("*"), (F.max("seq_last") + 1).cast("long")
    ).first()
    print(f"pack: {n_chunks} chunks -> {n_seqs} sequences "
          f"of {args.seq_tokens} tokens -> {args.out}")


def cmd_cut(spark, args):
    """Rewrite a documents parquet with corpus-wide duplicated content
    removed: ``--granularity span`` cuts every duplicated word-k-gram
    span (Lee et al. ExactSubstr), ``--granularity line`` every line
    whose trimmed form repeats (RefinedWeb boilerplate). Writes
    (doc_id, clean_text, n_removed); prints removal totals."""
    from pyspark.sql import functions as F

    from .operators.dedup import remove_duplicate_lines, remove_duplicate_spans

    docs = spark.read.parquet(args.docs)
    if args.granularity == "span":
        out = remove_duplicate_spans(
            docs, id_col=args.id_col, text_col=args.text_col, k=args.k
        ).withColumnRenamed("n_tokens_removed", "n_removed")
    else:
        out = remove_duplicate_lines(
            docs, id_col=args.id_col, text_col=args.text_col
        ).withColumnRenamed("n_lines_removed", "n_removed")
    out.write.mode("overwrite").parquet(args.out)
    done = spark.read.parquet(args.out)
    n_docs, n_removed, n_touched = done.agg(
        F.count("*"), F.sum("n_removed"), F.sum((F.col("n_removed") > 0).cast("int"))
    ).first()
    print(
        f"cut[{args.granularity}]: {n_docs} docs, {n_removed} "
        f"{'tokens' if args.granularity == 'span' else 'lines'} removed "
        f"across {n_touched} docs -> {args.out}"
    )


def cmd_tokenizer(spark, args):
    """Train BPE merges on a documents parquet: writes the merge table
    (step, lhs, rhs, cnt) to ``--out`` and prints the corpus word/token
    totals under the trained vocab."""
    from .operators.bpe import bpe_corpus_tokens, bpe_train_with_vocab

    docs = spark.read.parquet(args.docs)
    merges, enc = bpe_train_with_vocab(
        docs, n_merges=args.merges, id_col=args.id_col, text_col=args.text_col
    )
    merges.coalesce(1).write.mode("overwrite").parquet(args.out)
    row = bpe_corpus_tokens(enc).first()
    print(
        f"tokenizer: {args.merges} merges -> {args.out}; corpus "
        f"{row.n_words} words -> {row.n_tokens} tokens under the vocab"
    )


def cmd_score(spark, args):
    """Per-doc quality scoring over a documents parquet: ``--mode lm``
    writes bigram-LM perplexities (n_bigrams, lp_micro, ppl); ``--mode
    dsir`` writes DSIR importance weights against the ``--target-lang``
    slice (n_feats, logw_micro, selected) and prints the keep count."""
    from pyspark.sql import functions as F

    if args.mode == "lm":
        from .operators.lm import bigram_lm_scores

        out = bigram_lm_scores(
            spark.read.parquet(args.docs), id_col=args.id_col, text_col=args.text_col
        )
        out.write.mode("overwrite").parquet(args.out)
        mean_ppl = spark.read.parquet(args.out).agg(F.round(F.avg("ppl"), 2)).first()[0]
        print(f"score[lm]: mean perplexity {mean_ppl} -> {args.out}")
    else:
        from .operators.dsir import dsir_weights

        out = dsir_weights(
            spark.read.parquet(args.docs),
            F.col("lang") == args.target_lang,
            id_col=args.id_col,
            text_col=args.text_col,
        )
        out.write.mode("overwrite").parquet(args.out)
        n, sel = spark.read.parquet(args.out).agg(
            F.count("*"), F.sum(F.col("selected").cast("int"))
        ).first()
        print(f"score[dsir]: {sel}/{n} docs selected (target lang "
              f"{args.target_lang}) -> {args.out}")


def cmd_extract(spark, args):
    """Extract a documents table from WARC/WET crawl archives
    (sources/warc) — the webtext analog of the reference's `rs extract`
    over OSM PBF. Writes (doc_id, text, url, fetch_date, n_chars)."""
    from pyspark.sql import functions as F

    from .sources.warc import documents_from_wet, warc_records

    if args.kind == "wet":
        out = documents_from_wet(spark, args.archives)
    else:
        out = warc_records(spark, args.archives)
    out.write.mode("overwrite").parquet(args.out)
    done = spark.read.parquet(args.out)
    n = done.count()
    kinds = ""
    if args.kind == "records":
        top = done.groupBy("warc_type").count().orderBy(F.desc("count")).first()
        # top is None for an empty archive — report 0 rows, don't crash
        if top is not None:
            kinds = f" (top type: {top['warc_type']} x{top['count']})"
    print(f"extract[{args.kind}]: {n} rows{kinds} -> {args.out}")


def cmd_pipeline(spark, args):
    """Run (or resume) the full curation DAG (plans/curation): quality
    filter + PII redaction -> exact dedup -> line cut -> span cut ->
    LM scoring -> curated release table -> packed training shards, each
    stage checkpointed under --root with lineage metrics."""
    import os

    from pyspark.sql import functions as F

    from .plans.curation import curate_corpus

    p = curate_corpus(
        spark, args.docs, args.root,
        min_quality=args.min_quality, seq_tokens=args.seq_tokens,
        input_kind=args.input_kind,
    )
    ran = [s for s, v in p.ran.items() if v]
    n_cur = spark.read.parquet(os.path.join(args.root, "curated")).count()
    n_seq = spark.read.parquet(os.path.join(args.root, "packed")).agg(
        F.max("seq_last")
    ).first()[0]
    # n_seq is None when every doc was filtered out (empty packed output)
    n_packed = 0 if n_seq is None else int(n_seq) + 1
    print(
        f"pipeline: stages ran {ran or '[] (all resumed)'}; "
        f"{n_cur} curated docs, {n_packed} packed sequences -> {args.root}"
    )


def build_parser():
    p = argparse.ArgumentParser(prog="robosat_spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("cover"); c.add_argument("--features", required=True)
    c.add_argument("--zoom", type=int, required=True); c.add_argument("--out", required=True)
    c.set_defaults(func=cmd_cover)

    r = sub.add_parser("rasterize"); r.add_argument("--features", required=True)
    r.add_argument("--tiles", required=True); r.add_argument("--zoom", type=int, required=True)
    r.add_argument("--size", type=int, default=512); r.add_argument("--out", required=True)
    r.add_argument("--format", choices=["parquet", "png"], default="parquet")
    r.set_defaults(func=cmd_rasterize)

    pr = sub.add_parser("predict"); pr.add_argument("--masks", required=True)
    pr.add_argument("--noise", type=float, default=0.02); pr.add_argument("--out", required=True)
    pr.add_argument("--format", choices=["parquet", "png"], default="parquet")
    pr.set_defaults(func=cmd_predict)

    f = sub.add_parser("features"); f.add_argument("--masks", required=True)
    f.add_argument("--out", required=True); f.set_defaults(func=cmd_features)

    m = sub.add_parser("merge"); m.add_argument("--features", required=True)
    m.add_argument("--threshold", type=float, required=True); m.add_argument("--out", required=True)
    m.set_defaults(func=cmd_merge)

    d = sub.add_parser("dedupe"); d.add_argument("--pred", required=True)
    d.add_argument("--osm", required=True); d.add_argument("--threshold", type=float, default=0.5)
    d.add_argument("--out", required=True); d.set_defaults(func=cmd_dedupe)

    a = sub.add_parser("assign"); a.add_argument("--pages", required=True)
    a.add_argument("--features", required=True); a.add_argument("--zoom", type=int, required=True)
    a.add_argument("--out", required=True); a.set_defaults(func=cmd_assign)

    s = sub.add_parser("subset"); s.add_argument("--tiles", required=True)
    s.add_argument("--masks", required=True); s.add_argument("--out", required=True)
    s.set_defaults(func=cmd_subset)

    mk = sub.add_parser("masks"); mk.add_argument("--probs", required=True)
    mk.add_argument("--out", required=True)
    mk.add_argument("--format", choices=["parquet", "png"], default="parquet")
    mk.set_defaults(func=cmd_masks)

    cp = sub.add_parser("compare"); cp.add_argument("--masks", required=True)
    cp.add_argument("--truth", required=True); cp.add_argument("--out", default=None)
    cp.add_argument("--composites", default=None,
                    help="also write [truth|mask] side-by-side z/x/y.png under this dir")
    cp.add_argument("--minimum", type=float, default=0.0)
    cp.add_argument("--maximum", type=float, default=1.0)
    cp.set_defaults(func=cmd_compare)

    w = sub.add_parser("weights"); w.add_argument("--masks", required=True)
    w.add_argument("--classes", type=int, default=2); w.add_argument("--out", default=None)
    w.set_defaults(func=cmd_weights)

    dl = sub.add_parser("download"); dl.add_argument("--tiles", required=True)
    dl.add_argument("--url", required=True, help="{z}/{x}/{y} template (http(s)://, file://, or path)")
    dl.add_argument("--out", required=True); dl.add_argument("--rate", type=float, default=10.0)
    dl.add_argument("--ext", default="png"); dl.set_defaults(func=cmd_download)

    sv = sub.add_parser("serve"); sv.add_argument("--grids", required=True)
    sv.add_argument("--host", default="127.0.0.1"); sv.add_argument("--port", type=int, default=5000)
    sv.add_argument("--requests", type=int, default=0,
                    help="serve N requests then exit (0 = forever)")
    sv.set_defaults(func=cmd_serve)

    tb = sub.add_parser("table"); tb.add_argument("action",
        choices=["write", "snapshots", "compact", "delete", "expire", "upsert"])
    tb.add_argument("--path", required=True)
    tb.add_argument("--target-files", type=int, default=1)
    tb.add_argument("--sort-by", default=None)
    tb.add_argument("--where", default=None,
                    help="delete predicate as col:op:value (op in = < <= > >=)")
    tb.add_argument("--keep-last", type=int, default=1)
    tb.add_argument("--data", default=None,
                    help="write: source parquet; upsert: parquet of new row versions")
    tb.add_argument("--keys", default=None, help="upsert: comma-separated key columns")
    tb.add_argument("--partition-by", default=None, help="write: partition column")
    tb.add_argument("--transform", default="identity",
                    help="write: partition transform (identity or bucket[N])")
    tb.add_argument("--stats", default=None,
                    help="write: comma-separated columns to carry file bounds")
    tb.set_defaults(func=cmd_table)

    cu = sub.add_parser("curate"); cu.add_argument("--pages", required=True)
    cu.add_argument("--out", required=True)
    cu.add_argument("--blocklist", default=None,
                    help="text file, one blocked registered domain per line")
    cu.add_argument("--url-col", default="url")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--min-quality", type=float, default=None)
    cu.add_argument("--redact", action="store_true",
                    help="rewrite emails/IPv4 literals to placeholder tokens")
    cu.set_defaults(func=cmd_curate)

    sk = sub.add_parser("sketch"); sk.add_argument("kind", choices=["hll", "cms", "merge"])
    sk.add_argument("--path"); sk.add_argument("--col")
    sk.add_argument("--out", default=None)
    sk.add_argument("--p", type=int, default=12)
    sk.add_argument("--d", type=int, default=4); sk.add_argument("--w", type=int, default=4096)
    sk.add_argument("--rule", choices=["hll", "cms", "hist", "bloom"], default="hll",
                    help="merge rule for `sketch merge` (register-table family)")
    sk.add_argument("--inputs", nargs="+", default=None,
                    help="register tables to merge (parquet dirs or Iceberg tables)")
    sk.set_defaults(func=cmd_sketch)

    ix = sub.add_parser("index"); ix.add_argument("action", choices=["build", "query"])
    ix.add_argument("--table", required=True, help="Iceberg posting-list table path")
    ix.add_argument("--docs", default=None, help="documents parquet (build)")
    ix.add_argument("--terms", nargs="+", default=None, help="query terms (query)")
    ix.add_argument("--buckets", type=int, default=8)
    ix.add_argument("--top", type=int, default=10)
    ix.add_argument("--text-col", default="text")
    ix.add_argument("--id-col", default="doc_id")
    ix.set_defaults(func=cmd_index)

    pk = sub.add_parser("pack"); pk.add_argument("--docs", required=True)
    pk.add_argument("--out", required=True)
    pk.add_argument("--chunk-tokens", type=int, default=64)
    pk.add_argument("--overlap", type=int, default=16)
    pk.add_argument("--seq-tokens", type=int, default=256)
    pk.add_argument("--text-col", default="text")
    pk.add_argument("--id-col", default="doc_id")
    pk.set_defaults(func=cmd_pack)

    ct = sub.add_parser("cut"); ct.add_argument("--docs", required=True)
    ct.add_argument("--out", required=True)
    ct.add_argument("--granularity", choices=["span", "line"], default="span")
    ct.add_argument("--k", type=int, default=5)
    ct.add_argument("--text-col", default="text")
    ct.add_argument("--id-col", default="doc_id")
    ct.set_defaults(func=cmd_cut)

    tk = sub.add_parser("tokenizer"); tk.add_argument("--docs", required=True)
    tk.add_argument("--out", required=True)
    tk.add_argument("--merges", type=int, default=8)
    tk.add_argument("--text-col", default="text")
    tk.add_argument("--id-col", default="doc_id")
    tk.set_defaults(func=cmd_tokenizer)

    sc = sub.add_parser("score"); sc.add_argument("--docs", required=True)
    sc.add_argument("--out", required=True)
    sc.add_argument("--mode", choices=["lm", "dsir"], default="lm")
    sc.add_argument("--target-lang", default="en")
    sc.add_argument("--text-col", default="text")
    sc.add_argument("--id-col", default="doc_id")
    sc.set_defaults(func=cmd_score)

    pl = sub.add_parser("pipeline"); pl.add_argument("--docs", required=True)
    pl.add_argument("--root", required=True)
    pl.add_argument("--min-quality", type=float, default=0.3)
    pl.add_argument("--seq-tokens", type=int, default=256)
    pl.add_argument("--input-kind", choices=["parquet", "wet"], default="parquet")
    pl.set_defaults(func=cmd_pipeline)

    ex = sub.add_parser("extract"); ex.add_argument("--archives", required=True)
    ex.add_argument("--out", required=True)
    ex.add_argument("--kind", choices=["wet", "records"], default="wet")
    ex.set_defaults(func=cmd_extract)
    return p


def main(argv=None, spark=None):
    args = build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark(app=f"robosat_spark_{args.cmd}", cores=args.cores)
        spark.sparkContext.setLogLevel("ERROR")
    try:
        args.func(spark, args)
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
