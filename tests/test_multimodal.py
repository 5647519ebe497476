"""Media header-probe and validity-filter tests (FIXTURES-free;
synthetic media built in-test)."""

import pytest

pytestmark = pytest.mark.spark


class TestMultimodal:
    def test_header_probe_parses_crafted_headers(self):
        """The probe must recover exact dims from each supported format and
        refuse truncated or bit-flipped payloads."""
        from lightly_ocr_spark.operators.multimodal import (
            make_gif,
            make_jpeg,
            make_png,
            probe_image,
        )

        for maker, mime in [(make_png, "image/png"), (make_gif, "image/gif"),
                            (make_jpeg, "image/jpeg")]:
            p = probe_image(maker(640, 480, b"tail-bytes"))
            assert p == {"mime": mime, "width": 640, "height": 480,
                         "valid": True}, (mime, p)

        # truncation: cut each crafted header before the dims land
        assert not probe_image(make_png(640, 480)[:20])["valid"]
        assert not probe_image(make_gif(640, 480)[:8])["valid"]
        assert not probe_image(make_jpeg(640, 480)[:6])["valid"]
        # PNG CRC: flip one width bit -> stored CRC no longer verifies
        png = bytearray(make_png(640, 480))
        png[16] ^= 0x01
        assert not probe_image(bytes(png))["valid"]
        # garbage / empty
        assert not probe_image(b"not an image at all")["valid"]
        assert not probe_image(b"")["valid"]
        assert not probe_image(None)["valid"]

    def test_probe_media_and_validity_filter(self, spark):
        """Every synthetic image probes to the dims and mime of its
        declared meta; valid_media drops a planted truncated payload and
        a lying meta (the decode-probe F7 analog), passes audio/video
        through, and returns only the carried columns."""
        from pyspark.sql import functions as F

        from lightly_ocr_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            make_png,
            probe_image,
            synthetic_media,
            valid_media,
        )

        media = synthetic_media(spark, n=96)
        images = media.filter(F.col("kind") == "image").collect()
        assert images
        for r in images:
            assert probe_image(r["payload"]) == {
                "mime": r["meta"]["mime"], "width": r["meta"]["width"],
                "height": r["meta"]["height"], "valid": True,
            }, r["media_id"]

        # plant: one truncated payload, one whose meta lies about the dims
        bad = spark.createDataFrame(
            [
                (9001, "image", make_png(64, 48)[:20],
                 {"width": 64, "height": 48, "sample_rate": None,
                  "n_frames": None, "mime": "image/png"}),
                (9002, "image", make_png(64, 48),
                 {"width": 999, "height": 48, "sample_rate": None,
                  "n_frames": None, "mime": "image/png"}),
            ],
            MEDIA_SCHEMA,
        )
        kept = valid_media(media.unionByName(bad))
        assert kept.columns == ["media_id"]
        # audio/video rows pass through — the image probe must not judge
        # payloads it cannot parse (round-2 review finding: every valid
        # audio/video row was silently dropped)
        assert {r["media_id"] for r in kept.collect()} == {
            r["media_id"] for r in media.collect()
        }

    def test_probe_never_raises_on_arbitrary_bytes(self):
        """probe_image must classify, never crash: arbitrary byte soup and
        mutations of valid headers all return a well-formed dict."""
        import random

        from lightly_ocr_spark.operators.multimodal import (
            make_gif,
            make_jpeg,
            make_png,
            probe_image,
        )

        rng = random.Random(11)
        bases = [make_png(64, 48), make_gif(64, 48), make_jpeg(64, 48)]
        for trial in range(20000):
            if trial % 2:
                b = bytearray(bases[trial % 3])
                for _ in range(rng.randrange(1, 6)):
                    op = rng.randrange(3)
                    if op == 0 and b:
                        b[rng.randrange(len(b))] = rng.randrange(256)
                    elif op == 1 and b:
                        del b[rng.randrange(len(b))]
                    else:
                        b.insert(rng.randrange(len(b) + 1),
                                 rng.randrange(256))
                payload = bytes(b)
            else:
                payload = bytes(
                    rng.randrange(256) for _ in range(rng.randrange(0, 80))
                )
            p = probe_image(payload)
            assert set(p) == {"mime", "width", "height", "valid"}
            if p["valid"]:
                assert p["width"] > 0 and p["height"] > 0
