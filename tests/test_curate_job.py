"""End-to-end curation pipeline test with planted exact and near dupes."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


class TestCurateJob:
    def test_pipeline_with_planted_duplicates(self, spark, pages_dir, tmp_path):
        from lightly_ocr_spark.jobs.curate_job import run_curate
        from lightly_ocr_spark.schemas import PAGES_SCHEMA

        base = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
        # plant exact dupes: same html, different url (zz- prefix loses the
        # min(url) race against the originals)
        dupes = base.filter(F.length("html") > 200).limit(40).select(
            F.concat(F.lit("zz-exact-"), "url").alias("url"),
            "warc_ts", "html", "text", "lang",
        )
        planted_dir = str(tmp_path / "pages_planted")
        base.unionByName(dupes).write.mode("overwrite").parquet(planted_dir)

        out = str(tmp_path / "curated")
        m = run_curate(spark, planted_dir, out)

        assert m["input_pages"] == 1540
        assert m["extracted_nonempty"] <= 1540
        # all 40 planted exact dupes collapse
        assert m["after_exact_dedup"] <= m["extracted_nonempty"] - 40
        assert 0 < m["after_near_dedup_and_quality"] <= m["after_exact_dedup"]

        curated = spark.read.parquet(os.path.join(out, "data"))
        # no planted url may survive (its original wins min(url))
        assert curated.filter(F.col("url").startswith("zz-exact-")).count() == 0
        # schema + invariants
        assert curated.filter(F.col("n_tokens") < 10).count() == 0
        assert curated.groupBy("extract_sha256").count() \
            .filter("count > 1").count() == 0
        # language column present and mostly resolved
        n = curated.count()
        n_lang = curated.filter(F.col("lang_pred") != "und").count()
        assert n_lang >= int(0.9 * n)


class TestNearDupManifest:
    def test_dropped_count_equals_anti_join_removals(self, spark, tmp_path):
        """Every page passes the quality gate, so the rows lost between
        exact dedup and the output are exactly the urls the near-dup
        anti-join removes: the manifest's `near_dup_dropped` must equal
        them.  Planted: six one-word mutations of base pages and a
        two-step chain, all under urls that lose the min(url) race."""
        import random

        from lightly_ocr_spark.jobs.curate_job import run_curate
        from lightly_ocr_spark.schemas import PAGES_SCHEMA

        rng = random.Random(7)

        def page(url, words):
            html = f"<html><body><article><p>{' '.join(words)}</p>" \
                   "</article></body></html>"
            return (url, None, html.encode(), None, None)

        base = [[f"w{rng.randrange(10**9)}" for _ in range(60)]
                for _ in range(30)]
        rows = [page(f"https://a.example/{i:02d}", ws)
                for i, ws in enumerate(base)]
        for i in range(6):
            rows.append(page(f"https://zz.example/near{i}",
                             base[i][:20] + ["mutated"] + base[i][21:]))
        step = base[10][:40] + ["stepone"] + base[10][41:]
        rows.append(page("https://zz.example/step1", step))
        rows.append(page("https://zz.example/step2",
                         step[:50] + ["steptwo"] + step[51:]))
        pages = str(tmp_path / "pages")
        spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(pages)

        out = str(tmp_path / "curated")
        m = run_curate(spark, pages, out)
        assert m["after_exact_dedup"] == 38
        assert m["near_dup_dropped"] == 8
        assert m["near_verified_pairs"] >= 8
        assert m["near_dup_dropped"] == (
            m["after_exact_dedup"] - m["after_near_dedup_and_quality"]
        )
        kept = {r["url"] for r in spark.read.parquet(
            os.path.join(out, "data")).select("url").collect()}
        assert not any(u.startswith("https://zz.") for u in kept)


class TestMediaLeg:
    def test_corrupt_images_dropped_valid_features_joined(
        self, spark, pages_dir, tmp_path
    ):
        """--media: planted corrupt images (bad magic, CRC-broken PNG,
        lying declared dims) never reach the curated table; valid items
        roll up to per-url counts + a deterministic media fingerprint."""
        from pyspark.sql import Row

        from lightly_ocr_spark.jobs.curate_job import run_curate
        from lightly_ocr_spark.operators.multimodal import make_png
        from lightly_ocr_spark.schemas import PAGES_SCHEMA

        urls = [
            r["url"]
            for r in spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
            .select("url").orderBy("url").limit(6).collect()
        ]

        def meta(w, h):
            return Row(width=w, height=h, sample_rate=None,
                       n_frames=None, mime="image/png")

        good = make_png(64, 48)
        crc_broken = bytearray(make_png(64, 48))
        crc_broken[-2] ^= 0xFF  # flip a CRC byte -> probe must reject
        rows = [
            # urls[0]: two valid images
            (0, urls[0], "image", good, meta(64, 48)),
            (1, urls[0], "image", make_png(32, 32), meta(32, 32)),
            # urls[1]: one valid + one bad-magic (dropped)
            (2, urls[1], "image", good, meta(64, 48)),
            (3, urls[1], "image", b"not an image at all", meta(64, 48)),
            # urls[2]: only corrupt items -> url gets NO media row
            (4, urls[2], "image", bytes(crc_broken), meta(64, 48)),
            (5, urls[2], "image", make_png(64, 48), meta(999, 48)),  # lying meta
            # urls[3]: audio passes through the image probe untouched
            (6, urls[3], "audio", b"\x01\x02\x03", Row(
                width=None, height=None, sample_rate=16000,
                n_frames=None, mime="audio/fake")),
            # urls[4]: a null audio payload counts, hashed as b""
            (7, urls[4], "audio", None, Row(
                width=None, height=None, sample_rate=16000,
                n_frames=None, mime="audio/fake")),
            # a valid image of a page that was never crawled: it joins no
            # curated row, so it must not count in the manifest
            (8, "https://media-only.example/never-crawled", "image", good,
             meta(64, 48)),
        ]
        from lightly_ocr_spark.operators.multimodal import MEDIA_SCHEMA
        from pyspark.sql import types as T

        schema = T.StructType(
            [MEDIA_SCHEMA["media_id"], T.StructField("url", T.StringType())]
            + [MEDIA_SCHEMA[n] for n in ("kind", "payload", "meta")]
        )
        media_dir = str(tmp_path / "media")
        spark.createDataFrame(
            [(r[0], r[1], r[2], r[3], r[4]) for r in rows], schema
        ).write.parquet(media_dir)

        out = str(tmp_path / "curated_media")
        m = run_curate(spark, pages_dir, out, media_path=media_dir)
        # the counts cover the curated rows only: 4 valid items (urls[0]:
        # 2, urls[3] and urls[4]: one audio each) over 3 urls.  urls[1]'s
        # valid image and the never-crawled page's image join no curated
        # row (urls[1] is dropped by curation)
        assert m["media_valid_items"] == 4
        assert m["media_urls"] == 3

        curated = spark.read.parquet(os.path.join(out, "data"))
        got = {
            r["url"]: (r["n_valid_media"], r["media_sha256"])
            for r in curated.filter(F.col("n_valid_media").isNotNull())
            .select("url", "n_valid_media", "media_sha256").collect()
        }
        def fingerprint(*payloads):
            items = sorted(hashlib.sha256(p).hexdigest() for p in payloads)
            return hashlib.sha256(",".join(items).encode()).hexdigest()

        # urls[1] is itself dropped by curation; urls[2] had only corrupt
        # media, so it gets no media columns
        assert got == {
            urls[0]: (2, fingerprint(good, make_png(32, 32))),
            urls[3]: (1, fingerprint(b"\x01\x02\x03")),
            urls[4]: (1, "cd372fb85148700fa88095e3492d3f9f"
                         "5beb43e555e5ff26d95f5a6adc36f8e6"),
        }
        # pages without media keep flowing with null media columns
        assert curated.filter(F.col("n_valid_media").isNull()).count() > 0


class TestHostCap:
    def test_host_cap_bounds_every_host(self, spark, pages_dir, tmp_path):
        """--host-cap K: no host contributes more than K docs to the
        curated output (the zipf-hot synthetic hosts exceed K without it)."""
        from lightly_ocr_spark.jobs.curate_job import run_curate

        out = str(tmp_path / "curated_capped")
        cap = 5
        m = run_curate(spark, pages_dir, out, host_cap=cap)
        assert m["host_cap"] == cap

        curated = spark.read.parquet(os.path.join(out, "data"))
        per_host = (
            curated.select(
                F.regexp_extract("url", r"^[^:]+://([^/]+)", 1).alias("host")
            )
            .groupBy("host").count()
        )
        assert per_host.filter(F.col("count") > cap).count() == 0
        # and without the cap the hot hosts DO exceed it (guard is real)
        out2 = str(tmp_path / "curated_uncapped")
        run_curate(spark, pages_dir, out2)
        uncapped = spark.read.parquet(os.path.join(out2, "data"))
        over = (
            uncapped.select(
                F.regexp_extract("url", r"^[^:]+://([^/]+)", 1).alias("host")
            )
            .groupBy("host").count().filter(F.col("count") > cap).count()
        )
        assert over > 0


class TestRepetitionGate:
    def test_max_rep_drops_planted_spam(self, spark, pages_dir, tmp_path):
        """--max-rep: a planted keyword-stuffed page (one bigram dominates)
        is dropped; normal pages survive the same threshold."""
        from pyspark.sql import Row

        from lightly_ocr_spark.jobs.curate_job import run_curate
        from lightly_ocr_spark.schemas import PAGES_SCHEMA

        base = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
        spam_text = "buy now " * 40  # one bigram is ~half of all bigrams
        spam = spark.createDataFrame(
            [Row(url="https://spam.example/x", warc_ts=None,
                 html=f"<p>{spam_text}</p>".encode(), text="", lang="en")],
            PAGES_SCHEMA,
        )
        planted = str(tmp_path / "pages_spam")
        base.unionByName(spam).write.mode("overwrite").parquet(planted)

        out = str(tmp_path / "curated_rep")
        m = run_curate(spark, planted, out, max_rep=0.2)
        assert m["max_rep"] == 0.2
        curated = spark.read.parquet(os.path.join(out, "data"))
        urls = {r["url"] for r in curated.select("url").collect()}
        assert "https://spam.example/x" not in urls
        assert len(urls) > 1000  # normal corpus survives the gate


class TestLangId:
    def test_accuracy_vs_corpus_truth(self, spark, pages_dir):
        from pyspark.sql import functions as F

        from lightly_ocr_spark.operators.enrich import enrich_pages

        pages = spark.read.parquet(pages_dir).filter(F.length("text") > 0)
        joined = enrich_pages(pages.select("url", "text", "lang"))
        stats = joined.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("lang") == F.col("lang_pred")).cast("long"))
            .alias("ok"),
        ).collect()[0]
        assert stats["ok"] / stats["n"] >= 0.95, stats


class TestPiiAndChunkLegs:
    def test_planted_pii_redacted_and_chunks_match_math(
        self, spark, pages_dir, tmp_path
    ):
        """--pii + --chunk composed into the pipeline: planted emails /
        IPs / phones are redacted in the final text, and the chunks/
        output count matches the ta_chunking integer math applied to the
        curated docs (VERDICT round-3 task #5 done-criteria)."""
        from lightly_ocr_spark.jobs.curate_job import run_curate
        from lightly_ocr_spark.schemas import PAGES_SCHEMA

        base = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
        pii_body = (
            "reach our staff at ops@mail.example.com or 10.1.2.3 or "
            "+49301234567 for a dozen more words of perfectly normal "
            "body text that keeps this document past every gate"
        )
        planted = spark.createDataFrame(
            [("https://pii.example/a", None,
              f"<p>{pii_body}</p>".encode(), "", "en")],
            PAGES_SCHEMA,
        )
        pdir = str(tmp_path / "pages_pii")
        base.unionByName(planted).write.mode("overwrite").parquet(pdir)

        out = str(tmp_path / "curated_pii")
        m = run_curate(spark, pdir, out, pii=True, chunk=(32, 24))
        assert m["pii"] is True
        assert m["chunk_window"] == 32 and m["chunk_stride"] == 24

        data = spark.read.parquet(os.path.join(out, "data"))
        row = data.filter(F.col("url") == "https://pii.example/a").collect()
        assert len(row) == 1
        r = row[0]
        assert r["n_emails"] == 1 and r["n_ipv4"] == 1 and r["n_phones"] == 1
        assert "<EMAIL>" in r["text"] and "<IP>" in r["text"] \
            and "<PHONE>" in r["text"]
        assert "ops@mail.example.com" not in r["text"]
        # no doc anywhere in the curated table still carries an email
        assert data.filter(
            F.col("text").rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.")
        ).count() == 0

        # chunks/ exists and its count matches the exact integer math
        # (the ta_chunking formula) applied to the curated docs
        chunks = spark.read.parquet(os.path.join(out, "chunks"))
        def expected(n, w=32, s=24):
            if n == 0:
                return 0
            return 1 if n <= w else (n - w + s - 1) // s + 1
        want = sum(
            expected(len(t["text"].split()))
            for t in data.select("text").collect()
        )
        assert m["n_chunks"] == chunks.count() == want
        # the planted doc's own chunks: every chunk but the last is
        # exactly `window` tokens (the per-doc law; operator tests cover
        # the full contract)
        pchunks = sorted(
            (r["chunk_idx"], r["n_tokens"])
            for r in chunks.filter(
                F.col("url") == "https://pii.example/a").collect()
        )
        assert all(n == 32 for _, n in pchunks[:-1]) and pchunks


class TestNbModelGate:
    def test_planted_spam_dropped_by_trained_model(
        self, spark, pages_dir, tmp_path
    ):
        """--nb-model/--nb-drop: train the in-engine NB classifier on a
        labeled seed, save it, and let the pipeline drop docs the model
        predicts as spam (VERDICT round-3 task #7 done-criteria)."""
        import random

        from lightly_ocr_spark.jobs.curate_job import run_curate
        from lightly_ocr_spark.operators.classify import nb_fit, nb_save
        from lightly_ocr_spark.schemas import PAGES_SCHEMA

        spam_vocab = ("casino bonus winner jackpot pills cheap viagra "
                      "free click prize lottery deposit").split()
        good_vocab = ("the quick brown fox jumps over a lazy dog while "
                      "reading pleasant honest article text").split()
        rng = random.Random(7)
        seed_rows = []
        for i in range(60):
            seed_rows.append(
                ("spam", " ".join(rng.choices(spam_vocab, k=30))))
            seed_rows.append(
                ("good", " ".join(rng.choices(good_vocab, k=30))))
        seed = spark.createDataFrame(seed_rows, "label string, text string")
        wm, lm = nb_fit(seed)
        model_dir = str(tmp_path / "nb_model")
        nb_save(wm, lm, model_dir)

        base = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
        spam_pages = spark.createDataFrame(
            [(f"https://spamgate.example/{i}", None,
              ("<p>" + " ".join(
                  rng.choices(spam_vocab, k=25) + [f"tag{i}"]
              ) + "</p>").encode(), "", "en")
             for i in range(5)],
            PAGES_SCHEMA,
        )
        pdir = str(tmp_path / "pages_nb")
        base.unionByName(spam_pages).write.mode("overwrite").parquet(pdir)

        out = str(tmp_path / "curated_nb")
        m = run_curate(spark, pdir, out, nb_model_path=model_dir,
                       nb_drop="spam")
        assert m["nb_model"] == model_dir and m["nb_drop"] == "spam"
        assert m["nb_dropped"] >= 5

        data = spark.read.parquet(os.path.join(out, "data"))
        assert data.filter(
            F.col("url").startswith("https://spamgate.example/")
        ).count() == 0
        # normal docs survive and carry their prediction column
        assert "nb_label" in data.columns
        n = data.count()
        assert n > 1000
        assert data.filter(F.col("nb_label") == "good").count() >= int(0.9 * n)


class TestFluencyGateAndShardShuffle:
    def test_gibberish_dropped_and_chunks_deterministically_shuffled(
        self, spark, pages_dir, tmp_path
    ):
        """--min-fluency drops a planted gibberish page via the enrichment
        char-bigram LM column; --shuffle-seed makes the chunks/ output a
        deterministic global shuffle (same seed -> identical shard
        contents, document order broken up)."""
        from lightly_ocr_spark.jobs.curate_job import run_curate
        from lightly_ocr_spark.operators.fluency import bigram_logp
        from lightly_ocr_spark.schemas import PAGES_SCHEMA

        base = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
        gibberish = ("qzx jkq vwpf zzkj qqgx wkzv pjqx zxqk vqjz kxwq "
                     "zqvk xjqw qkzp wqxz jzqk xqwv")
        assert bigram_logp(gibberish) < -7.0  # sanity: scores as garbage
        planted = spark.createDataFrame(
            [("https://gib.example/a", None,
              f"<p>{gibberish}</p>".encode(), "", "en")],
            PAGES_SCHEMA,
        )
        pdir = str(tmp_path / "pages_gib")
        base.unionByName(planted).write.mode("overwrite").parquet(pdir)

        out1 = str(tmp_path / "curated_f1")
        m = run_curate(spark, pdir, out1, min_fluency=-7.0,
                       chunk=(16, 12), shuffle_seed=42)
        assert m["min_fluency"] == -7.0 and m["shuffle_seed"] == 42
        data = spark.read.parquet(os.path.join(out1, "data"))
        assert data.filter(
            F.col("url") == "https://gib.example/a").count() == 0
        assert data.count() > 1000  # normal prose passes the gate

        # determinism: a second run with the same seed produces the same
        # chunk sequence per shard file
        out2 = str(tmp_path / "curated_f2")
        run_curate(spark, pdir, out2, min_fluency=-7.0,
                   chunk=(16, 12), shuffle_seed=42)

        import glob as g

        def shard_rows(out):
            rows = {}
            for p in sorted(g.glob(os.path.join(out, "chunks", "part-*"))):
                key = os.path.basename(p).split("-")[1]
                rows[key] = [
                    (r["url"], r["chunk_idx"])
                    for r in spark.read.parquet(p).collect()
                ]
            return rows

        assert shard_rows(out1) == shard_rows(out2)
        # the shuffle really breaks document order: consecutive chunks of
        # one doc are no longer adjacent in shard order
        flat = [u for part in shard_rows(out1).values() for u, _ in part]
        runs = sum(1 for a, b in zip(flat, flat[1:]) if a == b)
        assert runs < len(flat) * 0.5, "chunks still in document order"


class TestPassageDedupLeg:
    def test_cross_doc_boilerplate_passage_cut_from_curated_text(
        self, spark, pages_dir, tmp_path
    ):
        """--passage-dedup N,MIN: a license-block sentence planted into
        several otherwise-distinct pages is cut from every one; the docs
        themselves survive with their unique text intact."""
        from lightly_ocr_spark.jobs.curate_job import run_curate
        from lightly_ocr_spark.schemas import PAGES_SCHEMA

        base = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
        boiler = ("this content is licensed under the creative commons "
                  "attribution license")  # 11 tokens > N=8
        planted = spark.createDataFrame(
            [(f"https://pp.example/{i}", None,
              ("<p>" + " ".join(
                  f"unique{i}word{j} own{i}tok{j}" for j in range(12)
              ) + f" {boiler}</p>").encode(), "", "en")
             for i in range(4)],
            PAGES_SCHEMA,
        )
        pdir = str(tmp_path / "pages_passage")
        base.unionByName(planted).write.mode("overwrite").parquet(pdir)

        out = str(tmp_path / "curated_passage")
        m = run_curate(spark, pdir, out, passage_dedup=(8, 3))
        assert m["passage_ngram"] == 8 and m["passage_min_docs"] == 3

        data = spark.read.parquet(os.path.join(out, "data"))
        rows = data.filter(
            F.col("url").startswith("https://pp.example/")
        ).collect()
        assert len(rows) == 4
        for r in rows:
            assert "licensed under the creative" not in r["text"]
            assert f"unique" in r["text"]  # own text intact
            assert r["n_passage_tokens_cut"] >= 8


class TestPackLeg:
    def test_chunks_packed_within_budget(self, spark, pages_dir, tmp_path):
        """--pack BUDGET: the packs/ assignment covers every chunk exactly
        once and no pack exceeds the budget (chunks here are <= 32 tokens
        < budget, so the oversize fallback never triggers)."""
        from lightly_ocr_spark.jobs.curate_job import run_curate

        out = str(tmp_path / "curated_pack")
        m = run_curate(spark, pages_dir, out, chunk=(32, 24),
                       pack_budget=256)
        assert m["pack_budget"] == 256 and m["n_packs"] > 0

        chunks = spark.read.parquet(os.path.join(out, "chunks"))
        packs = spark.read.parquet(os.path.join(out, "packs"))
        assert packs.count() == chunks.count()
        assert packs.select("url", "chunk_idx").distinct().count() \
            == chunks.count()
        over = (
            packs.groupBy("pack_id")
            .agg(F.sum("n_tokens").alias("t"))
            .filter(F.col("t") > 256)
            .count()
        )
        assert over == 0
        assert m["n_packs"] < chunks.count()  # packing really combines
