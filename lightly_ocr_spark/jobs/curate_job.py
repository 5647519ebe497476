"""Training-data curation pipeline: pages -> curated text table.

Composes the engine's operators into the end-to-end shape a large-scale
training corpus build needs (the graft of the reference's
generator->filter->dataset ETL plane, `ocr/tools/generator.py` +
`ocr/tools/dataset.py:143-156`):

    extract (fused UDF)           # stage 1+2 of the engine
    -> drop empty                 # F7 validity
    -> newest fetch per url       # revisits collapse; url is a key below
    -> exact dedup                # sha256 groups, keeper = min(url)
    -> near dedup (MinHash-LSH)   # banded buckets, pairs with >=50%
                                  # signature agreement clustered by
                                  # connected components; keeper = min(url)
    -> passage dedup (opt-in)     # text rewritten, n_passage_tokens_cut
    -> host cap (opt-in)          # first K urls per host
    -> quality gate               # >= MIN_TOKENS whitespace tokens
    -> enrich                     # lang_pred, bigram_logp, top_bigram_frac
    -> repetition / fluency / NB gates, PII scrub (all opt-in)
    -> media rollup (opt-in)      # valid items per url: one Arrow
                                  # crossing, payload sha256 JVM-side
    -> write + stage-count manifest

The stages after near dedup add or replace columns on the rows they
receive, or filter them; only the opt-in NB and media legs join by url.
Shuffles: one per dedup stage, keyed by fingerprint/bucket — both
near-uniform keys, no skew salting needed on top of the content hashes
themselves.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lightly_ocr_spark.operators.classify import nb_load, nb_predict

# NEAR_DUP_MIN_AGREEMENT is unused here but stays importable from this
# module: perfbench/layers.py imports it from curate_job
from lightly_ocr_spark.operators.dedup import (  # noqa: F401
    NEAR_DUP_MIN_AGREEMENT,
    NEAR_DUP_NGRAM,
    check_max_bucket,
    min_id_per_content,
    minhash_signatures,
    near_dup_losers,
    passage_dedup_docs,
)
from lightly_ocr_spark.operators.enrich import enrich_pages
from lightly_ocr_spark.operators.extract_udf import newest_extracted
from lightly_ocr_spark.operators.multimodal import valid_media
from lightly_ocr_spark.operators.pack import check_pack_budget, pack_chunks
from lightly_ocr_spark.operators.textstats import (
    MIN_TOKENS,
    check_chunk,
    chunk_docs,
    host_cap_df,
    host_expr,
    pii_scrub_df,
    token_gate,
)
from lightly_ocr_spark.sources import FORMAT_GLOBS, read_pages
from lightly_ocr_spark.sources.commit import atomic_json, require_local


def media_per_url(media: DataFrame) -> DataFrame:
    """Opt-in media leg: validity filter -> per-url rollup, ready to
    left-join onto the curated text table.

    Input: media parquet with MEDIA_SCHEMA columns plus a `url` linking
    each item to its page.  Each payload's sha256 is computed JVM-side
    (a null payload hashes as the empty string), then one Arrow crossing
    (`valid_media`) drops corrupt images (bad magic/CRC, truncated
    header, dimensions disagreeing with declared meta) and carries only
    `url` and the hash back.  One url-keyed aggregate follows: item
    count and a deterministic per-url media fingerprint (sha256 over the
    sorted item hashes).  Scalars only — the curated table stays one
    row per url."""
    hashed = media.select(
        "url", "kind", "payload", "meta",
        F.sha2(F.coalesce("payload", F.expr("X''")), 256)
        .alias("payload_sha256"),
    )
    return (
        valid_media(hashed).groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_valid_media"),
            F.sha2(
                F.concat_ws(
                    ",", F.sort_array(F.collect_list("payload_sha256"))
                ),
                256,
            ).alias("media_sha256"),
        )
    )


def check_curate_options(
    nb_model_path: str | None = None, nb_drop: str | None = None,
    chunk: tuple[int, int] | None = None, shuffle_seed: int | None = None,
    passage_dedup: tuple[int, int] | None = None,
    near_max_bucket: int | None = None, pack_budget: int | None = None,
) -> None:
    """Every curate option rule, in one place: raises ValueError before
    any Spark job, so a bad value never costs a curation run and never
    silently changes what it computes.  `run_curate` calls it first, and
    `main` before it starts Spark (a ValueError becomes a usage error,
    exit code 2)."""
    if nb_drop is not None and nb_model_path is None:
        # without a model the gate would never run, and say nothing
        raise ValueError("nb_drop (--nb-drop) requires nb_model_path "
                         "(--nb-model)")
    if passage_dedup is not None and min(passage_dedup) < 2:
        # MIN = 1 cuts every passage: each occurs in its own doc
        raise ValueError("passage_dedup (--passage-dedup N,MIN) needs "
                         f"N >= 2 and MIN >= 2, got {passage_dedup}")
    check_max_bucket(near_max_bucket)
    if chunk is not None:
        check_chunk(*chunk)
    if chunk is None and (pack_budget is not None
                          or shuffle_seed is not None):
        # both run over the chunks/ output: without it they would be
        # silently ignored
        raise ValueError("pack_budget/shuffle_seed (--pack/--shuffle-seed) "
                         "require chunk (--chunk)")
    if pack_budget is not None:
        check_pack_budget(pack_budget)


def run_curate(spark: SparkSession, pages_path: str, out_dir: str,
               host_cap: int | None = None,
               input_format: str = "pages",
               max_rep: float | None = None,
               checkpoint_dir: str | None = None,
               media_path: str | None = None,
               nb_model_path: str | None = None,
               nb_drop: str | None = None,
               pii: bool = False,
               chunk: tuple[int, int] | None = None,
               min_fluency: float | None = None,
               shuffle_seed: int | None = None,
               passage_dedup: tuple[int, int] | None = None,
               near_max_bucket: int | None = None,
               pack_budget: int | None = None) -> dict:
    """The option rules live in `check_curate_options`, which runs
    first: a bad value raises ValueError before any Spark job.

    Stage counts come from `observe()` accumulators riding the actions
    the job runs anyway — never from extra `.count()` materializations or
    re-reads of the output (cache+count of the full corpus spills and
    evicts at 100 TB).  `near_verified_pairs` and `near_dup_dropped`
    ride the near-dup clustering's own materialisations.  Persisted
    frames: `uniq` (DISK_ONLY — it feeds two branches: near-dup
    candidates and the anti-join; its one materialization doubles as the
    harvest point for the input/extracted counters), and `gated` only
    when the NB gate reads it a second time; both are released after the
    write, also when the run raises.  The near-dup signatures are not
    persisted: their one consumer is the bucket grouping, which reads
    them once, and the leg's result reads the clustering's checkpoint."""
    check_curate_options(
        nb_model_path=nb_model_path, nb_drop=nb_drop, chunk=chunk,
        shuffle_seed=shuffle_seed, passage_dedup=passage_dedup,
        near_max_bucket=near_max_bucket, pack_budget=pack_budget,
    )
    require_local(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.time()
    obs_in = Observation("curate-input")
    obs_ex = Observation("curate-extracted")
    obs_cur = Observation("curate-out")
    pages = read_pages(spark, pages_path, input_format).observe(
        obs_in, F.count(F.lit(1)).alias("n")
    )

    # url-revisit dedup FIRST: downstream stages assume url is a key —
    # duplicate urls would merge minhash tokens into one bogus signature
    # and multiply rows through the NB and media url joins.  obs_ex
    # counts the non-empty docs before the revisit collapse
    one_per_url = newest_extracted(pages, counter=obs_ex)

    uniq = min_id_per_content(one_per_url, "url").persist(
        StorageLevel.DISK_ONLY
    )
    cached = [uniq]
    try:
        # one materialization: fills the DISK_ONLY cache for both downstream
        # branches, is itself the after-exact-dedup counter, and fires the
        # input/extracted observations exactly once (branches below hit the
        # cache, never the upstream plan)
        n_unique = uniq.count()
        n_extracted = int(obs_ex.get["n"])
        legs: dict[str, float] = {}
        tl = time.time()
        legs["extract_exact_dedup"] = round(tl - t0, 3)

        # the signatures have one consumer, the bucket grouping, which
        # reads them once, so they need no persist.
        # checkpoint_dir: durable component checkpoints on a cluster
        sig = minhash_signatures(
            uniq.select(F.col("url").alias("doc_id"), "text"),
            ngram=NEAR_DUP_NGRAM,
        )
        near: dict[str, int] = {}
        drops = near_dup_losers(
            sig, checkpoint_dir=checkpoint_dir, max_bucket=near_max_bucket,
            counts=near,
        ).select(F.col("doc_id").alias("url"))
        legs["near_dup_components"] = round(time.time() - tl, 3)
        tl = time.time()
        deduped = uniq.join(drops, "url", "left_anti")

        if passage_dedup is not None:
            # duplicate-PASSAGE removal after whole-doc dedup: shared
            # boilerplate sentences surviving near-dedup (different docs,
            # same license block / nav sentence) are cut at every position.
            # The operator keeps every row and column, so the text swap is
            # one projection in the original column order.
            pn, pmin = passage_dedup
            deduped = passage_dedup_docs(
                deduped, id_col="url", n=pn, min_docs=pmin
            ).select(
                *[c for c in deduped.columns if c != "text"],
                F.col("cleaned").alias("text"),
                F.col("n_removed_tokens").alias("n_passage_tokens_cut"),
            )

        if host_cap is not None:
            # per-host flood guard: keep the first `host_cap` docs per host
            # (deterministic by url), via the sharded two-phase cap so a
            # zipf-hot host never serializes into one window-sort task.
            # host_expr falls back to the parent path for authority-less URIs
            # ('file:/...' paths), so a corpus keyed by local file URIs buckets
            # by directory instead of collapsing into one empty-host bucket
            host = host_expr("url")
            deduped = host_cap_df(
                deduped.withColumn("host", host), order_col="url", cap=host_cap
            ).drop("host", "host_rank")

        # quality gate BEFORE enrichment: no Arrow crossing is spent on
        # rows the token filter drops
        gated = token_gate(deduped)
        # langid + fluency + top-bigram repetition, ONE Arrow crossing of the
        # text column, appended to the gated rows in place: the repetition
        # fraction is ~free inside the enrichment pass (Counter per doc), vs
        # ~110 s per 200 k docs as its own JVM pass — same tokenization
        # contract as textstats.repetition_signals_df
        curated = enrich_pages(gated)
        if max_rep is not None:
            # Gopher-style repetition gate: drop docs whose single hottest
            # word-bigram takes more than `max_rep` of all bigrams (boilerplate
            # and keyword-stuffing spam); opt-in
            curated = curated.filter(
                F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)) <= max_rep
            )
        if min_fluency is not None:
            # char-bigram LM gate on the enrichment column the pipeline
            # already computed (one Arrow crossing, no extra pass).  The
            # frozen profile models ENGLISH bigrams, so the threshold applies
            # only to docs language-ID'd as 'en' — or 'und', which is exactly
            # the junk target: text we can neither identify as a language nor
            # score as fluent (keyboard mash, mojibake, binary spew).
            # Recognized non-English text passes ungated rather than being
            # judged against a foreign bigram table.  NULLs gate (un-scorable
            # = un-vouchable).  English prose measures ≥ -6.2 on this
            # profile; gibberish ≈ -9; -7 is the documented starting point.
            lang = F.coalesce(F.col("lang_pred"), F.lit("und"))
            curated = curated.filter(
                (~lang.isin("en", "und"))
                | (F.coalesce(F.col("bigram_logp"), F.lit(-999.0))
                   >= min_fluency)
            )
        obs_nb = None
        if nb_model_path is not None:
            # model-based quality gate (the fastText slot of a curation
            # stack): score every surviving doc with the saved NB model —
            # broadcast model join, one doc-keyed aggregate — keep the
            # prediction as a column, and (opt-in) drop a predicted class.
            # Runs BEFORE the PII scrub so the model sees the same raw text
            # distribution it was trained on.
            wm, lm = nb_load(spark, nb_model_path)
            # score from `gated`, not `curated`: the latter would re-run the
            # enrichment Arrow crossing for the prediction branch (the
            # round-3 multi-consumer-subtree lesson).  `gated` is then read
            # twice (enrichment and scoring), so persist it or each branch
            # recomputes the anti-join/host-cap subtree.  Scoring a few rows
            # the repetition gate later drops is free; the left join discards
            # them.
            cached.append(gated.persist(StorageLevel.DISK_ONLY))
            preds = nb_predict(
                gated.select("url", "text"), wm, lm, id_col="url"
            ).select("url", F.col("pred_label").alias("nb_label"))
            curated = curated.join(preds, "url", "left")
            if nb_drop is not None:
                obs_nb = Observation("curate-nb-dropped")
                curated = curated.observe(
                    obs_nb,
                    F.sum(
                        (F.coalesce(F.col("nb_label"), F.lit("")) == nb_drop)
                        .cast("long")
                    ).alias("dropped"),
                ).filter(
                    F.coalesce(F.col("nb_label"), F.lit("")) != nb_drop
                )
        if pii:
            # redact emails / IPs / phone numbers in the final text (counts
            # kept per doc); pure codegen'd regexp chains — no extra pass,
            # the expressions ride the existing write plan
            curated = pii_scrub_df(curated).withColumnRenamed(
                "scrubbed", "text"
            )
        out_counts = [F.count(F.lit(1)).alias("n")]
        if media_path is not None:
            # left join: pages without media keep flowing.  The media counts
            # are taken after the join, over the curated rows only, and ride
            # the write action's observation — no extra materialization
            curated = curated.join(
                media_per_url(spark.read.parquet(media_path)), "url", "left"
            )
            out_counts += [F.sum("n_valid_media").alias("media_items"),
                           F.count("n_valid_media").alias("media_urls")]
        curated = curated.observe(obs_cur, *out_counts)
        curated.write.mode("overwrite").parquet(os.path.join(out_dir, "data"))
    finally:
        # also when the run raises: a reused session must not keep
        # corpus-scale DISK_ONLY blocks
        for df in cached:
            df.unpersist()
    # passage dedup / host cap / gates / enrichment / NB / PII all ride
    # this one fused write action — the leg wall covers them jointly
    legs["gates_enrich_write"] = round(time.time() - tl, 3)
    tl = time.time()

    n_chunks = None
    if chunk is not None:
        # token-window chunking of the CURATED output into training-sized
        # rows — reads the just-written table back (local re-scan of the
        # final, small artifact) rather than re-running the whole curation
        # plan for the explode
        cw, cs = chunk
        obs_chunks = Observation("curate-chunks")
        chunks = chunk_docs(
            spark.read.parquet(os.path.join(out_dir, "data"))
            .select("url", "text"),
            id_col="url", window=cw, stride=cs,
        )
        if shuffle_seed is not None:
            # deterministic global shuffle of the training shards: order
            # by a seeded content hash — consecutive chunks of one
            # document scatter across the output instead of training in
            # document order.  A global orderBy = range partition + sort,
            # the standard shard-shuffle plan; seeded, so re-runs produce
            # byte-identical shard content.
            chunks = chunks.orderBy(
                F.xxhash64(
                    F.concat_ws("#", "url", F.col("chunk_idx").cast("string")),
                    F.lit(shuffle_seed),
                )
            )
        chunks = chunks.observe(
            obs_chunks, F.count(F.lit(1)).alias("n")
        )
        chunks.write.mode("overwrite").parquet(
            os.path.join(out_dir, "chunks")
        )
        n_chunks = int(obs_chunks.get["n"])
        legs["chunks_shuffle_write"] = round(time.time() - tl, 3)
        tl = time.time()
        if pack_budget is not None:
            # sequence packing of the just-written chunks into
            # fixed-budget training sequences (packs/ holds the
            # assignment table; the trainer joins it back on
            # (url, chunk_idx))
            obs_packs = Observation("curate-packs")
            # size the packing partitions to the data: ~50k chunks per
            # partition bounds both the per-partition tail waste on small
            # runs (1 partition for anything under 50k) and keeps
            # corpus-scale packing parallel
            n_parts = max(1, min(1024, -(-n_chunks // 50_000)))
            packed = pack_chunks(
                spark.read.parquet(os.path.join(out_dir, "chunks")),
                budget=pack_budget, partitions=n_parts,
            ).observe(
                obs_packs,
                # exact pack count without DISTINCT (observe() rejects
                # it): every pack has exactly one pack_seq == 0 member
                F.sum((F.col("pack_seq") == 0).cast("long"))
                .alias("n_packs"),
            )
            packed.write.mode("overwrite").parquet(
                os.path.join(out_dir, "packs")
            )
            n_packs = int(obs_packs.get["n_packs"] or 0)
            legs["packs_write"] = round(time.time() - tl, 3)

    manifest = {
        "legs": legs,
        "input_pages": int(obs_in.get["n"]),
        "extracted_nonempty": n_extracted,
        "after_exact_dedup": n_unique,
        "near_verified_pairs": near["verified_pairs"],
        "near_dup_dropped": near["dropped"],
        "after_near_dedup_and_quality": int(obs_cur.get["n"]),
        "host_cap": host_cap,
        "max_rep": max_rep,
        "min_tokens": MIN_TOKENS,
        "wall_s": round(time.time() - t0, 3),
    }
    if media_path is not None:
        m = obs_cur.get
        manifest["media_valid_items"] = int(m["media_items"] or 0)
        manifest["media_urls"] = int(m["media_urls"])
    if nb_model_path is not None:
        manifest["nb_model"] = nb_model_path
        manifest["nb_drop"] = nb_drop
        if obs_nb is not None:
            manifest["nb_dropped"] = int(obs_nb.get["dropped"] or 0)
    if pii:
        manifest["pii"] = True
    if min_fluency is not None:
        manifest["min_fluency"] = min_fluency
    if passage_dedup is not None:
        manifest["passage_ngram"], manifest["passage_min_docs"] = \
            passage_dedup
    if n_chunks is not None:
        manifest["chunk_window"], manifest["chunk_stride"] = chunk
        manifest["n_chunks"] = n_chunks
        if shuffle_seed is not None:
            manifest["shuffle_seed"] = shuffle_seed
        if pack_budget is not None:
            manifest["pack_budget"] = pack_budget
            manifest["n_packs"] = n_packs
    atomic_json(os.path.join(out_dir, "manifest.json"), manifest)
    return manifest


def _int_pair(text: str) -> tuple[int, int]:
    """argparse type of the "A,B" flags (--chunk W,S, --passage-dedup
    N,MIN): two integers; `check_curate_options` holds their rules."""
    try:
        a, b = (int(x) for x in text.split(","))
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"expected two comma-separated integers, got {text!r}"
        ) from None
    return a, b


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--host-cap", type=int, default=None,
                    help="keep at most K docs per host (off by default)")
    ap.add_argument("--format", choices=tuple(FORMAT_GLOBS), default="pages",
                    help="input layout: pages parquet, raw WARC archives, "
                    "or JSONL(.gz) dumps")
    ap.add_argument("--max-rep", type=float, default=None,
                    help="drop docs whose top bigram exceeds this share "
                    "of all bigrams (off by default)")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="reliable checkpoint directory (HDFS/S3 path on a "
                    "cluster) for the iterative near-dup clustering; "
                    "default uses executor-local checkpoints (local mode)")
    ap.add_argument("--media", default=None,
                    help="optional media parquet (MEDIA_SCHEMA + url): "
                    "drop corrupt images by a header probe and left-join "
                    "per-url valid-item counts + fingerprint onto the "
                    "curated table")
    ap.add_argument("--nb-model", default=None,
                    help="saved NB model dir (classify.nb_save): score "
                    "every curated doc, keep the prediction as nb_label")
    ap.add_argument("--nb-drop", default=None,
                    help="drop docs the NB model predicts as this label "
                    "(requires --nb-model)")
    ap.add_argument("--pii", action="store_true",
                    help="redact emails/IPs/phone numbers in the final "
                    "text (per-doc counts kept)")
    ap.add_argument("--chunk", type=_int_pair, default=None, metavar="W,S",
                    help="also write chunks/: token windows of size W "
                    "with stride S over the curated text")
    ap.add_argument("--min-fluency", type=float, default=None,
                    help="drop docs whose char-bigram log-prob (enrichment "
                    "column) is below this; gibberish filter, opt-in")
    ap.add_argument("--shuffle-seed", type=int, default=None,
                    help="deterministically shuffle the chunks/ output by "
                    "a seeded content hash (training-shard order)")
    ap.add_argument("--pack", type=int, default=None, metavar="BUDGET",
                    help="also write packs/: greedy sequence packing of "
                    "the chunks into <= BUDGET-token training sequences "
                    "(requires --chunk)")
    ap.add_argument("--near-max-bucket", type=int, default=None,
                    help="skip LSH buckets holding more than this many "
                    "members during near-dedup (hot-bucket quadratic "
                    "guard; recall degrades gracefully via other bands)")
    ap.add_argument("--passage-dedup", type=_int_pair, default=None,
                    metavar="N,MIN",
                    help="cut every N-token passage occurring in >= MIN "
                    "distinct docs (cross-doc boilerplate sentences) and "
                    "rewrite the text column")
    args = ap.parse_args()
    checked = dict(
        nb_model_path=args.nb_model, nb_drop=args.nb_drop, chunk=args.chunk,
        shuffle_seed=args.shuffle_seed, passage_dedup=args.passage_dedup,
        near_max_bucket=args.near_max_bucket, pack_budget=args.pack,
    )
    try:
        check_curate_options(**checked)
    except ValueError as e:
        ap.error(str(e))

    from lightly_ocr_spark.plans.session import build_session

    spark = build_session("curate-job", cores=args.cores)
    print(json.dumps(
        run_curate(spark, args.pages, args.out, host_cap=args.host_cap,
                   input_format=args.format, max_rep=args.max_rep,
                   checkpoint_dir=args.checkpoint_dir,
                   media_path=args.media, pii=args.pii,
                   min_fluency=args.min_fluency, **checked)
    ))


if __name__ == "__main__":
    main()
