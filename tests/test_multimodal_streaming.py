"""Multimodal plumbing (mapInPandas over binary columns) and Structured
Streaming (watermarked windows, stateful sessionization) tests."""

import os
import time

import pytest

# streaming-engine lifecycle integration (checkpoint restart, soak, kill/resume) — full-suite lane only (see conftest fast lane)
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquery_spark.operators import multimodal
from parquery_spark.streaming import (
    windowed_event_counts,
    windowed_event_counts_batch,
)


@pytest.fixture(scope="module")
def media_df(spark):
    docs = spark.createDataFrame(
        [(1, "img-one"), (2, "img-two"), (3, "img-three")], ["media_id", "name"]
    )
    return multimodal.attach_binary_payload(docs, "name", "image")


class TestMultimodal:
    def test_payload_is_binary(self, media_df):
        assert dict(media_df.dtypes)["payload"] == "binary"

    def test_feature_extraction_schema_and_determinism(self, media_df):
        out = multimodal.extract_media_features(media_df)
        assert "payload" not in out.columns  # bytes dropped before shuffle
        rows1 = {r["media_id"]: r.asDict() for r in out.collect()}
        rows2 = {r["media_id"]: r.asDict() for r in out.collect()}
        assert rows1 == rows2  # deterministic stub
        r = rows1[1]
        # text bytes are NOT a PNG/JPEG: the real header parser reports
        # an honest failure instead of inventing dimensions
        assert r["decode_ok"] is False and r["n_bytes"] == len(b"img-one")
        assert r["width"] is None and r["height"] is None

    def test_unknown_media_type_raises(self, spark, media_df):
        bad = media_df.withColumn("media_type", F.lit("hologram"))
        with pytest.raises(Exception, match="hologram"):
            multimodal.extract_media_features(bad).collect()

    def test_partitioned_batches(self, media_df):
        # plumbing works across repartition (several Arrow batches)
        out = multimodal.extract_media_features(media_df.repartition(3))
        assert out.count() == 3


class TestWavPcmDecode:
    """Real RIFF/WAVE PCM16 decode (round-11 closure of the audio stub):
    byte-level roundtrip + the torn-data / compressed-codec / non-RIFF
    rejection paths q232's oracle gate relies on."""

    def _samples(self, n=500, k=11, b=13):
        import numpy as np

        return (((np.arange(n) * k + b) % 4001) - 2000).astype(np.int16)

    def test_roundtrip_mono_and_stereo(self):
        import numpy as np

        s = self._samples()
        pcm = multimodal.decode_wav_pcm(multimodal.make_wav(s, 16000))
        assert pcm.shape == (500, 1) and (pcm[:, 0] == s).all()
        st = np.stack([s, -s], axis=1).astype(np.int16)
        pcm2 = multimodal.decode_wav_pcm(multimodal.make_wav(st, 44100))
        assert pcm2.shape == (500, 2) and (pcm2 == st).all()

    def test_stats_match_numpy(self):
        import numpy as np

        s = self._samples().astype(np.int64)
        rec = multimodal._decode_stub(
            multimodal.make_wav(s.astype(np.int16), 8000), "audio"
        )
        assert rec["decode_ok"] and rec["au_ok"]
        assert rec["sample_rate"] == 8000 and rec["n_frames"] == 500
        assert rec["au_mean"] == round(float(s.mean()), 6)
        assert rec["au_rms"] == round(float(np.sqrt((s * s).mean())), 6)
        assert rec["au_peak"] == int(np.abs(s).max())
        assert rec["duration_ms"] == round(500 * 1000.0 / 8000, 6)

    def test_int16_min_peak_does_not_overflow(self):
        import numpy as np

        s = np.array([-32768, 0, 7], dtype=np.int16)
        rec = multimodal._decode_stub(multimodal.make_wav(s, 8000), "audio")
        assert rec["au_peak"] == 32768  # |int16 min| needs a wider dtype

    def test_torn_data_chunk_fails_cleanly(self):
        payload = multimodal.make_wav(self._samples(), 22050)[:60]
        rec = multimodal._decode_stub(payload, "audio")
        # header metadata survives (PNG parity: IHDR outlives torn IDAT)
        assert rec["decode_ok"] is True and rec["sample_rate"] == 22050
        assert rec["n_frames"] == 500
        # ...but sample stats must be null, never a prefix decode
        assert rec["au_ok"] is False and rec["au_mean"] is None
        assert rec["duration_ms"] is None

    def test_torn_header_reports_decode_failure(self):
        payload = multimodal.make_wav(self._samples(), 22050)[:20]
        rec = multimodal._decode_stub(payload, "audio")
        assert rec["decode_ok"] is False and rec["sample_rate"] is None

    def test_compressed_codec_tag_refused(self):
        payload = multimodal.make_wav(self._samples(), 8000, audio_format=85)
        rec = multimodal._decode_stub(payload, "audio")
        assert rec["decode_ok"] is True and rec["sample_rate"] == 8000
        assert rec["au_ok"] is False and rec["n_frames"] is None
        assert multimodal.decode_wav_pcm(payload) is None

    def test_non_riff_audio_keeps_legacy_stub(self):
        import hashlib

        rec = multimodal._decode_stub(b"not a wav at all", "audio")
        seed = int(hashlib.md5(b"not a wav at all").hexdigest()[:8], 16)
        assert rec["decode_ok"] is True and rec["width"] is None
        assert rec["n_frames"] == 1 + seed % 300  # stub contract unchanged
        assert rec["au_ok"] is False and rec["sample_rate"] is None

    def test_empty_data_chunk(self):
        import numpy as np

        payload = multimodal.make_wav(np.empty(0, dtype=np.int16), 8000)
        rec = multimodal._decode_stub(payload, "audio")
        assert rec["decode_ok"] is True and rec["n_frames"] == 0
        assert rec["au_ok"] is False  # no samples to report stats over

    def test_corrupt_block_align_rejected(self):
        """Round-11 ADVICE (reproduced): a parsing PCM header whose
        block_align disagrees with n_channels * bits/8 would make
        frombuffer request more bytes than the payload holds (kernel
        ValueError → scan error) or silently mis-frame samples.  Such a
        header is corrupt: reject at parse time, decode refuses, the
        kernel reports decode_ok=false instead of erroring the scan."""
        import struct

        import numpy as np

        st = np.stack([self._samples(), self._samples()], axis=1).astype(
            np.int16
        )
        for bogus in (1, 2, 3, 8):  # stereo 16-bit needs block_align=4
            wav = bytearray(multimodal.make_wav(st, 16000))
            struct.pack_into("<H", wav, 32, bogus)  # fmt block_align field
            assert multimodal.parse_wav_header(bytes(wav)) is None
            assert multimodal.decode_wav_pcm(bytes(wav)) is None
            rec = multimodal._decode_stub(bytes(wav), "audio")
            assert rec["decode_ok"] is False and rec["au_ok"] is False

    def test_huge_declared_data_chunk_reported_torn(self):
        """A torn WAV whose header declares a near-u32-max data chunk
        must report the declared frame count (mono PCM16 tops out at
        exactly int32 max thanks to the block_align identity) with
        au_ok=false — never a prefix decode, never a kernel error."""
        import struct

        wav = bytearray(multimodal.make_wav(self._samples(16), 8000))
        data_len_off = len(wav) - 16 * 2 - 4
        struct.pack_into("<I", wav, data_len_off, 0xFFFFFFF0)
        hdr = multimodal.parse_wav_header(bytes(wav))
        assert hdr is not None and hdr[4] == 0xFFFFFFF0 // 2
        rec = multimodal._decode_stub(bytes(wav), "audio")
        assert rec["decode_ok"] is True
        assert rec["n_frames"] == 0xFFFFFFF0 // 2  # declared metadata
        assert rec["au_ok"] is False  # torn: never a prefix decode

    def test_hostile_png_dims_rejected(self):
        """PNG caps dimensions at 2^31-1 by spec; a u32 above that is a
        hostile header and would overflow the IntegerType width field in
        the kernel — the parser must reject it, not pass it through."""
        assert multimodal.parse_image_dims(
            multimodal.make_png(2**31 + 5, 10)
        ) is None
        assert multimodal.parse_image_dims(
            multimodal.make_png(10, 2**31 + 5)
        ) is None
        assert multimodal.parse_image_dims(
            multimodal.make_png(2**31 - 1, 10)
        ) == (2**31 - 1, 10)


class TestAviVideoCodec:
    """Real RIFF/AVI raw-RGB frame decode (round-12 closure of the last
    labeled compute stub): byte-level roundtrip through the actual DIB
    raster layout (bottom-up rows, BGR order, 4-byte stride padding) +
    the torn-movi / compressed-fourcc / non-AVI rejection paths q233's
    oracle gate relies on."""

    def _frames(self, n=5, h=11, w=13, key=17):
        import numpy as np

        f = np.arange(n)[:, None, None, None]
        y = np.arange(h)[None, :, None, None]
        x = np.arange(w)[None, None, :, None]
        c = np.arange(3)[None, None, None, :]
        return ((x * 3 + y * 7 + f * 11 + c * 13 + key) % 256).astype(
            np.uint8
        )

    def test_roundtrip_exact(self):
        # w=13 → 39-byte rows padded to 40: the unpad path is exercised
        px = self._frames()
        out = multimodal.decode_avi_frames(multimodal.make_avi(px, 12))
        assert out.shape == px.shape and (out == px).all()

    def test_roundtrip_no_padding(self):
        px = self._frames(h=4, w=8)  # 24-byte rows: stride needs no pad
        out = multimodal.decode_avi_frames(multimodal.make_avi(px, 25))
        assert (out == px).all()

    def test_header_metadata(self):
        px = self._frames()
        hdr = multimodal.parse_avi_header(multimodal.make_avi(px, 10))
        w, h, nf, usec, comp, bits, _, _ = hdr
        assert (w, h, nf) == (13, 11, 5)
        assert usec == 100_000 and comp == 0 and bits == 24

    def test_compressed_fourcc_refused(self):
        payload = multimodal.make_avi(self._frames(), 12,
                                      compression=b"MJPG")
        hdr = multimodal.parse_avi_header(payload)
        assert hdr is not None and hdr[4] != 0  # header still parses
        assert multimodal.decode_avi_frames(payload) is None
        rec = multimodal._decode_stub(payload, "video")
        assert rec["decode_ok"] is True and rec["n_frames"] == 5
        assert rec["px_ok"] is False and rec["px_mean_r"] is None

    def test_torn_movi_fails_cleanly(self):
        payload = multimodal.make_avi(self._frames(), 12)
        movi_off = multimodal.parse_avi_header(payload)[6]
        # torn anywhere inside the frame region: header survives,
        # decode must never return a frame prefix as the whole clip
        for cut in (movi_off + 10, movi_off + 600, len(payload) - 3):
            torn = payload[:cut]
            hdr = multimodal.parse_avi_header(torn)
            assert hdr is not None and hdr[2] == 5  # declared frames
            assert multimodal.decode_avi_frames(torn) is None
            rec = multimodal._decode_stub(torn, "video")
            assert rec["decode_ok"] is True and rec["px_ok"] is False

    def test_torn_before_movi_is_not_parseable(self):
        payload = multimodal.make_avi(self._frames(), 12)
        assert multimodal.parse_avi_header(payload[:40]) is None
        rec = multimodal._decode_stub(payload[:40], "video")
        assert rec["decode_ok"] is False and rec["n_frames"] is None

    def test_stats_match_numpy(self):
        import numpy as np

        px = self._frames()
        rec = multimodal._decode_stub(multimodal.make_avi(px, 12), "video")
        sums = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
        cnt = px.shape[0] * px.shape[1] * px.shape[2]
        assert rec["px_ok"] is True
        assert rec["px_mean_r"] == round(float(sums[0] / cnt), 6)
        assert rec["px_mean_g"] == round(float(sums[1] / cnt), 6)
        assert rec["px_mean_b"] == round(float(sums[2] / cnt), 6)
        assert rec["px_min"] == int(px.min())
        assert rec["px_max"] == int(px.max())
        assert rec["duration_ms"] == round(5 * (1_000_000 // 12) / 1000.0, 6)

    def test_zero_frames(self):
        import numpy as np

        px = np.empty((0, 4, 4, 3), dtype=np.uint8)
        payload = multimodal.make_avi(px, 10)
        out = multimodal.decode_avi_frames(payload)
        assert out is not None and out.shape == (0, 4, 4, 3)
        rec = multimodal._decode_stub(payload, "video")
        assert rec["decode_ok"] is True and rec["n_frames"] == 0
        assert rec["px_ok"] is False  # no pixels to report stats over

    def test_huge_declared_frame_count_is_long_not_overflow(self):
        """AVI's dwTotalFrames is a u32: a torn-but-parsing header can
        declare ~4.3e9 frames, past int32 — the n_frames field must be
        a LONG or Arrow conversion inside the kernel errors the whole
        scan (round-11 ADVICE class, video edition)."""
        import struct

        payload = bytearray(multimodal.make_avi(self._frames(), 12))
        # avih data starts at 12 (RIFF hdr) + 12 (LIST+size+hdrl)
        # + 8 ('avih'+len) = 32; dwTotalFrames is its 5th u32
        struct.pack_into("<I", payload, 32 + 16, 4_000_000_000)
        hdr = multimodal.parse_avi_header(bytes(payload))
        assert hdr is not None and hdr[2] == 4_000_000_000 > 2**31 - 1
        rec = multimodal._decode_stub(bytes(payload), "video")
        assert rec["decode_ok"] is True
        assert rec["n_frames"] == 4_000_000_000  # declared, as long
        assert rec["px_ok"] is False  # 5 real frames ≠ declared: torn
        fields = {f.name: f.dataType for f in multimodal.MEDIA_FEATURES_SCHEMA}
        assert isinstance(fields["n_frames"], T.LongType)

    def test_non_avi_video_keeps_legacy_stub(self):
        import hashlib

        rec = multimodal._decode_stub(b"not an avi", "video")
        seed = int(hashlib.md5(b"not an avi").hexdigest()[:8], 16)
        assert rec["decode_ok"] is True  # documented stub contract
        assert rec["n_frames"] == 1 + seed % 300

    def test_sample_frames_operator(self, spark):
        import pandas as pd

        payloads = [
            (1, multimodal.make_avi(self._frames(n=7), 10)),
            (2, multimodal.make_avi(self._frames(n=4, key=99), 10)),
            (3, b"not an avi"),  # emits zero rows, never errors the scan
            (4, multimodal.make_avi(self._frames(), 10,
                                    compression=b"MJPG")),
        ]
        df = spark.createDataFrame(
            pd.DataFrame(payloads, columns=["vid_id", "payload"])
        )
        out = multimodal.sample_frames(df, every_n=3)
        rows = {(r["vid_id"], r["frame_idx"]): r for r in out.collect()}
        assert set(rows) == {(1, 0), (1, 3), (1, 6), (2, 0), (2, 3)}
        fr0 = self._frames(n=7)[3]
        means = fr0.reshape(-1, 3).mean(axis=0)
        assert rows[(1, 3)]["fr_mean_r"] == round(float(means[0]), 6)


class TestJpegGrayCodec:
    """Real baseline-DCT grayscale JPEG decode (round-12 closure of the
    dims-only gap): lossless roundtrip on block-constant images, ±1
    bound on arbitrary images (IDCT float rounding), and the torn-scan /
    progressive / color rejection paths q234's oracle gate relies on."""

    def _tiles(self, bh=3, bw=4, key=13):
        import numpy as np

        ty = np.arange(bh)[:, None]
        tx = np.arange(bw)[None, :]
        return ((tx * 5 + ty * 9 + key) % 256).astype(np.uint8)

    def _img(self, **kw):
        import numpy as np

        return np.kron(self._tiles(**kw), np.ones((8, 8), np.uint8))

    def test_block_constant_is_lossless(self):
        img = self._img()
        out = multimodal.decode_jpeg_gray(multimodal.make_jpeg_gray(img))
        assert out.shape == img.shape and (out == img).all()

    def test_arbitrary_image_within_one(self):
        import numpy as np

        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, (24, 31), np.uint8)  # w % 8 != 0
        out = multimodal.decode_jpeg_gray(multimodal.make_jpeg_gray(img))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 1

    def test_extreme_values_roundtrip(self):
        import numpy as np

        img = np.kron(
            np.array([[0, 255], [255, 0]], np.uint8),
            np.ones((8, 8), np.uint8),
        )
        out = multimodal.decode_jpeg_gray(multimodal.make_jpeg_gray(img))
        assert (out == img).all()  # clip path exercised at both rails

    def test_dims_parse_agrees(self):
        payload = multimodal.make_jpeg_gray(self._img(bh=2, bw=5))
        assert multimodal.parse_image_dims(payload) == (40, 16)

    def test_torn_scan_fails_cleanly(self):
        payload = multimodal.make_jpeg_gray(self._img())
        for cut in (120, len(payload) // 2, len(payload) - 3):
            torn = payload[:cut]
            assert multimodal.parse_image_dims(torn) == (32, 24)
            assert multimodal.decode_jpeg_gray(torn) is None
            rec = multimodal._decode_stub(torn, "image")
            assert rec["decode_ok"] is True and rec["px_ok"] is False

    def test_progressive_marker_refused(self):
        payload = bytearray(multimodal.make_jpeg_gray(self._img()))
        payload[bytes(payload).index(b"\xff\xc0") + 1] = 0xC2
        payload = bytes(payload)
        assert multimodal.parse_image_dims(payload) == (32, 24)
        assert multimodal.decode_jpeg_gray(payload) is None

    def test_header_only_jpeg_still_refused(self):
        # make_jpeg writes SOI+SOF0 only (no DHT/SOS): dims-only payload
        payload = multimodal.make_jpeg(100, 50)
        assert multimodal.parse_image_dims(payload) == (100, 50)
        assert multimodal.decode_jpeg_gray(payload) is None

    def test_stats_match_numpy(self):
        import numpy as np

        img = self._img()
        rec = multimodal._decode_stub(
            multimodal.make_jpeg_gray(img), "image"
        )
        assert rec["px_ok"] is True
        assert rec["px_mean_r"] == round(float(
            img.astype(np.int64).mean()), 6)
        assert rec["px_mean_g"] is None  # grayscale: PNG ctype-0 parity
        assert rec["px_min"] == int(img.min())
        assert rec["px_max"] == int(img.max())

    def test_quant_table_respected(self):
        import numpy as np

        # a smooth ramp at quant=4 must come back close (dequant path);
        # a decoder ignoring the DQT values would be off by ~4x on AC
        img = np.tile(np.linspace(40, 200, 32).astype(np.uint8), (16, 1))
        out = multimodal.decode_jpeg_gray(
            multimodal.make_jpeg_gray(img, quant=4)
        )
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 3


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=7 * i), i % 3, "click", float(i))
        for i in range(40)
    ]
    path = str(tmp_path_factory.mktemp("stream") / "events")
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(path)
    return path


class TestStreaming:
    def test_stream_matches_batch(self, spark, event_dir, tmp_path_factory):
        stream_df = windowed_event_counts(
            spark, event_dir, EVENT_SCHEMA, window="1 hour", watermark="2 hours"
        )
        assert stream_df.isStreaming
        q = (
            stream_df.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
        batch = windowed_event_counts_batch(
            spark.read.parquet(event_dir), "1 hour"
        )
        want = {
            (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
            for r in batch.collect()
        }
        assert got == want and len(want) > 0

    def test_checkpoint_restart_exactly_once(self, spark, tmp_path):
        """Kill/restart recovery: run 1 ingests hours 0-4 and emits only the
        watermark-finalized windows; run 2 restarts from the SAME checkpoint
        with hours 5-8 added and must emit the remaining finalized windows
        exactly once — including windows whose rows were ingested in run 1
        but only finalized in run 2 (proves window state survives restart,
        not just source offsets)."""
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")

        def add_hours(hours):
            rows = [
                (h * 100 + m, base + dt.timedelta(hours=h, minutes=m), 1,
                 "click", 1.0)
                for h in hours for m in (0, 30)
            ]
            (spark.createDataFrame(rows, EVENT_SCHEMA)
             .coalesce(1).write.mode("append").parquet(src))

        def run_to_completion():
            sdf = windowed_event_counts(
                spark, src, EVENT_SCHEMA, window="1 hour", watermark="2 hours"
            )
            q = (
                sdf.writeStream.format("parquet").option("path", sink)
                .option("checkpointLocation", ckpt).outputMode("append")
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
            assert q.exception() is None
            return spark.read.parquet(sink)

        add_hours(range(0, 5))  # max ts 4:30 → watermark 2:30
        run1 = {
            r["window_start"]: (r["n"], r["total_value"])
            for r in run_to_completion().collect()
        }
        # only windows closed by the watermark are emitted
        assert sorted(w.hour for w in run1) == [0, 1]

        add_hours(range(5, 9))  # max ts 8:30 → watermark 6:30
        rows2 = run_to_completion().collect()
        # exactly-once: no (window, event_type) emitted twice across runs
        keys = [(r["window_start"], r["event_type"]) for r in rows2]
        assert len(keys) == len(set(keys))
        got = {r["window_start"]: (r["n"], r["total_value"]) for r in rows2}
        # windows 2-4 were fed ONLY by run-1 files: their counts require the
        # aggregation state (or source replay) recovered from the checkpoint
        assert sorted(w.hour for w in got) == [0, 1, 2, 3, 4, 5]
        assert all(n == 2 for n, _ in got.values())

    def test_sessionization_state_shape(self, spark, event_dir):
        from parquery_spark.streaming import sessionize_stream

        out = sessionize_stream(spark, event_dir, EVENT_SCHEMA)
        assert out.isStreaming
        assert set(out.columns) == {
            "user_id", "session_start", "session_end", "n_events"
        }
        # run one availableNow pass to prove the stateful operator executes
        q = (
            out.writeStream.format("memory").queryName("sessions")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        # sessions only emit on timeout; zero rows after one pass is valid —
        # the assertion is that the stateful query ran to completion
        assert not q.isActive or q.exception() is None


class TestStreamingSoak:
    def test_rate_source_continuous_windows(self, spark, tmp_path):
        """Continuous-trigger soak on the built-in rate source: the same
        windowed-aggregation graph that runs over files keeps up with a
        live generator — several microbatches, watermark advancing, no
        query exception, rows flowing end-to-end."""
        import time as _time

        from parquery_spark.streaming.events import _window_agg

        rate = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 500).load()
            .select(
                F.col("value").alias("event_id"),
                F.col("timestamp").alias("ts"),
                (F.col("value") % 7).alias("user_id"),
                F.when(F.col("value") % 2 == 0, "click")
                 .otherwise("view").alias("event_type"),
                (F.col("value") % 10).cast("double").alias("value"),
            )
            .withWatermark("ts", "5 seconds")
        )
        out = _window_agg(rate, "2 seconds")
        q = (
            out.writeStream.format("memory").queryName("rate_soak")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            deadline = _time.time() + 60
            rows = 0
            batches = 0
            while _time.time() < deadline:
                _time.sleep(2)
                assert q.exception() is None
                rows = spark.sql("SELECT COUNT(*) c FROM rate_soak").first()["c"]
                batches = len(q.recentProgress)
                if rows >= 10 and batches >= 5:
                    break
            assert rows >= 10, f"only {rows} finalized rows after soak"
            assert batches >= 5, f"only {batches} microbatches ran"
            # watermark advanced past epoch → state is being evicted
            wm = q.lastProgress["eventTime"].get("watermark", "")
            assert wm and not wm.startswith("1970")
        finally:
            q.stop()


class TestStreamingDedup:
    def test_duplicates_dropped_within_watermark(self, spark, tmp_path):
        """At-least-once redelivery inside the watermark window yields
        exactly one row per event_id; state expires past the watermark."""
        import datetime as dt

        from parquery_spark.streaming import dedup_stream

        base = dt.datetime(2024, 1, 1)
        rows = [
            (i, base + dt.timedelta(minutes=i), i % 2, "click", float(i))
            for i in range(10)
        ]
        dupes = rows[::3]  # redeliver every third event
        src = str(tmp_path / "dedup_src")
        (spark.createDataFrame(rows + dupes, EVENT_SCHEMA)
         .coalesce(1).write.parquet(src))

        out = dedup_stream(spark, src, EVENT_SCHEMA, ["event_id"],
                           watermark="1 hour")
        assert out.isStreaming
        q = (
            out.writeStream.format("memory").queryName("dedup_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = [r["event_id"] for r in
               spark.sql("SELECT event_id FROM dedup_out").collect()]
        assert sorted(got) == list(range(10))  # each id exactly once


class TestStreamJoinRecovery:
    def test_join_state_survives_checkpoint_restart(self, spark, tmp_path):
        """Stream-stream outer-join state across kill/restart: run 1
        buffers a click whose purchase only arrives in run 2 — the match
        can only emit if the JOIN STATE (not just source offsets) was
        recovered from the checkpoint.  A never-matched click must still
        emit its null row once run 2's watermark passes its window
        (eviction also resumes across restart).  Sentinel rows carry both
        filtered event types (the watermark-filter-pushdown trap)."""
        import datetime as dt

        from pyspark.sql import functions as F

        base = dt.datetime(2024, 1, 1)
        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        schema = ("event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")

        def write_file(name, rows):
            (spark.createDataFrame(rows, schema).coalesce(1)
             .write.mode("append").parquet(src))

        def run_to_completion():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(src)
                .withWatermark("ts", "30 minutes")
            )
            clicks = stream.where("event_type = 'click'").select(
                F.col("event_id").alias("c_event_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            purchases = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(src)
                .withWatermark("ts", "30 minutes")
                .where("event_type = 'purchase'")
                .select(
                    F.col("user_id").alias("p_user"),
                    F.col("ts").alias("p_ts"),
                )
            )
            j = clicks.join(
                purchases,
                (F.col("c_user") == F.col("p_user"))
                & (F.col("p_ts") >= F.col("c_ts"))
                & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
                "left_outer",
            )
            q = (
                j.writeStream.format("parquet").option("path", sink)
                .option("checkpointLocation", ckpt).outputMode("append")
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
            assert q.exception() is None
            return spark.read.parquet(sink).where("c_user >= 0")

        t = lambda h, m: base + dt.timedelta(hours=h, minutes=m)
        write_file("f1", [
            (1, t(1, 0), 101, "click", 1.0),     # matched only in run 2
            (2, t(1, 10), 102, "click", 1.0),    # matched in run 1
            (3, t(1, 20), 103, "click", 1.0),    # never matched
            (4, t(1, 30), 102, "purchase", 5.0),
        ])
        run1 = run_to_completion().collect()
        got1 = {(r["c_user"], r["p_ts"] is not None) for r in run1}
        assert got1 == {(102, True)}  # 101/103 still buffered in state

        write_file("f2", [(5, t(1, 40), 101, "purchase", 9.0)])
        far1 = [(6, t(10, 0), -1, "click", 0.0),
                (7, t(10, 0), -1, "purchase", 0.0)]
        far2 = [(8, t(10, 5), -2, "click", 0.0),
                (9, t(10, 5), -2, "purchase", 0.0)]
        write_file("f3", far1)
        write_file("f4", far2)
        rows2 = run_to_completion().collect()
        got2 = {(r["c_user"], r["p_ts"] is not None) for r in rows2}
        # 101's match required run-1 click state; 103 evicted with null
        assert got2 == {(102, True), (101, True), (103, False)}
        # exactly-once: each click appears once across both runs
        ids = [r["c_event_id"] for r in rows2]
        assert sorted(ids) == [1, 2, 3]


class TestMidStreamKillResume:
    def test_midstream_kill_and_resume_join_exactly_once(
        self, spark, tmp_path
    ):
        """Soak beyond availableNow: run 1 is a LIVE micro-batch loop
        (processingTime trigger) killed MID-STREAM — ``q.stop()`` fires
        while unread files remain, so the stop point is an arbitrary batch
        boundary, not a clean end-of-input drain.  Run 2 restarts from the
        same checkpoint with availableNow and must (a) resume source
        offsets without re-emitting run 1's output, (b) recover the
        stream-stream join state so clicks buffered before the kill match
        purchases that only arrive after the restart, (c) finish eviction.
        The final relation must equal the batch join exactly once,
        REGARDLESS of where the kill landed — that invariance is the
        exactly-once contract."""
        import datetime as dt
        import time

        from pyspark.sql import functions as F

        base = dt.datetime(2024, 1, 1)
        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        schema = ("event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")

        def write_file(rows):
            (spark.createDataFrame(rows, schema).coalesce(1)
             .write.mode("append").parquet(src))

        def build_join():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(src)
                .withWatermark("ts", "30 minutes")
            )
            clicks = stream.where("event_type = 'click'").select(
                F.col("event_id").alias("c_event_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            purchases = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(src)
                .withWatermark("ts", "30 minutes")
                .where("event_type = 'purchase'")
                .select(
                    F.col("user_id").alias("p_user"),
                    F.col("ts").alias("p_ts"),
                )
            )
            return clicks.join(
                purchases,
                (F.col("c_user") == F.col("p_user"))
                & (F.col("p_ts") >= F.col("c_ts"))
                & (F.col("p_ts") <= F.col("c_ts")
                   + F.expr("INTERVAL 1 HOUR")),
                "inner",
            )

        t = lambda h, m: base + dt.timedelta(hours=h, minutes=m)
        # several single-row files so maxFilesPerTrigger=1 forces many
        # micro-batches — the live run is mid-stream whenever we stop it
        for i, u in enumerate((1, 2, 3, 4)):
            write_file([(i, t(1, u), u, "click", 1.0)])
        write_file([(10, t(1, 11), 1, "purchase", 5.0)])
        write_file([(11, t(1, 12), 2, "purchase", 5.0)])

        q1 = (
            build_join().writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="50 milliseconds").start()
        )
        # wait for the live loop to make SOME progress, then kill it
        # mid-stream (files remain unprocessed for at least one side)
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(
                p["numInputRows"] > 0 for p in q1.recentProgress
            ):
                break
            time.sleep(0.1)
        q1.stop()
        q1.awaitTermination(60)

        # these arrive while the stream is DOWN; user 3/4 purchases match
        # clicks that run 1 buffered into join state before the kill
        write_file([(12, t(1, 13), 3, "purchase", 5.0)])
        write_file([(13, t(1, 14), 4, "purchase", 5.0)])
        # watermark-advancing sentinels on both filtered branches
        write_file([(14, t(10, 0), -1, "click", 0.0),
                    (15, t(10, 0), -1, "purchase", 0.0)])

        q2 = (
            build_join().writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q2.awaitTermination(120)
        assert q2.exception() is None

        rows = (spark.read.parquet(sink).where("c_user >= 0")
                .select("c_event_id", "c_user").collect())
        got = sorted((r["c_event_id"], r["c_user"]) for r in rows)
        # exactly once each, wherever the kill landed
        assert got == [(0, 1), (1, 2), (2, 3), (3, 4)]


class TestBinaryFileSource:
    """sources/binary.py: distributed raw-file ingest wired into the
    multimodal contract (payload + media_type)."""

    @pytest.fixture()
    def media_dir(self, tmp_path):
        from parquery_spark.operators.multimodal import make_png

        (tmp_path / "a.png").write_bytes(make_png(32, 16, b"png-bytes"))
        (tmp_path / "b.wav").write_bytes(b"wav-bytes")
        (tmp_path / "c.xyz").write_bytes(b"mystery")
        sub = tmp_path / "nested"
        sub.mkdir()
        (sub / "d.mp4").write_bytes(b"vid-bytes")
        return str(tmp_path)

    def test_auto_media_type_and_payload(self, spark, media_dir):
        from parquery_spark.sources.binary import read_binary_files

        rows = {
            os.path.basename(r["path"]): r
            for r in read_binary_files(spark, media_dir).collect()
        }
        assert set(rows) == {"a.png", "b.wav", "c.xyz", "d.mp4"}
        assert rows["a.png"]["media_type"] == "image"
        assert rows["b.wav"]["media_type"] == "audio"
        assert rows["d.mp4"]["media_type"] == "video"  # recursive lookup
        assert rows["c.xyz"]["media_type"] == "unknown"
        from parquery_spark.operators.multimodal import make_png

        assert bytes(rows["a.png"]["payload"]) == make_png(32, 16, b"png-bytes")
        assert rows["a.png"]["length"] == len(make_png(32, 16, b"png-bytes"))

    def test_path_glob_prunes_at_listing(self, spark, media_dir):
        from parquery_spark.sources.binary import read_binary_files

        got = read_binary_files(spark, media_dir, path_glob="*.png").collect()
        assert [os.path.basename(r["path"]) for r in got] == ["a.png"]

    def test_modified_after_prunes(self, spark, media_dir):
        from parquery_spark.sources.binary import read_binary_files

        assert (
            read_binary_files(
                spark, media_dir, modified_after="2100-01-01T00:00:00"
            ).count()
            == 0
        )

    def test_feeds_feature_extraction(self, spark, media_dir):
        import hashlib

        from parquery_spark.operators.multimodal import extract_media_features
        from parquery_spark.sources.binary import read_binary_files

        from parquery_spark.operators.multimodal import make_png

        raw = read_binary_files(spark, media_dir, path_glob="*.png").select(
            "path", "payload", "media_type"
        )
        feats = extract_media_features(raw).collect()
        assert len(feats) == 1
        png = make_png(32, 16, b"png-bytes")
        assert feats[0]["content_hash"] == hashlib.md5(png).hexdigest()
        assert feats[0]["decode_ok"] is True
        assert (feats[0]["width"], feats[0]["height"]) == (32, 16)
        assert "payload" not in feats[0].asDict()

    def test_constant_media_type(self, spark, media_dir):
        from parquery_spark.sources.binary import read_binary_files

        got = read_binary_files(spark, media_dir, media_type="image")
        assert {r["media_type"] for r in got.collect()} == {"image"}


class TestImageHeaderParse:
    """The PNG/JPEG header parser against HAND-WRITTEN byte literals —
    independent of make_png/make_jpeg, so a matching encode/decode bug
    pair cannot cancel out (the q222 fixture is built with the makers)."""

    def test_png_literal(self):
        from parquery_spark.operators.multimodal import parse_image_dims

        # 8-byte signature, IHDR len 13, "IHDR", width=0x0102=258,
        # height=0x00ff=255, bit depth 8, color 2, rest zero
        png = bytes.fromhex(
            "89504e470d0a1a0a0000000d49484452"
            "00000102000000ff0802000000"
            "00000000"
        )
        assert parse_image_dims(png) == (258, 255)

    def test_jpeg_literal_with_app0(self):
        from parquery_spark.operators.multimodal import parse_image_dims

        # SOI, APP0 (len 16, JFIF), SOF0 (len 17): height=0x0010=16,
        # width=0x0200=512, 3 components
        jpg = bytes.fromhex(
            "ffd8"
            "ffe000104a46494600010100000100010000"
            "ffc0001108001002000301110002110103110100"
        )
        assert parse_image_dims(jpg) == (512, 16)

    def test_jpeg_fill_bytes_before_markers(self):
        """The spec allows any run of 0xFF fill bytes before a marker;
        real encoders emit them — they must not read as corruption."""
        from parquery_spark.operators.multimodal import (
            make_jpeg,
            parse_image_dims,
        )

        j = make_jpeg(100, 50)
        assert parse_image_dims(j[:2] + b"\xff\xff\xff" + j[2:]) == (100, 50)
        # fill before a skipped APP0 segment AND before the SOF
        jfif = (
            b"\xff\xd8" + b"\xff\xff"
            + b"\xff\xe0\x00\x10" + b"JFIF\x00" + b"\x00" * 9
            + b"\xff" + j[2:]
        )
        assert parse_image_dims(jfif) == (100, 50)
        # an all-fill tail is truncation, not a frame
        assert parse_image_dims(b"\xff\xd8" + b"\xff" * 10) is None

    def test_rejects_garbage_and_truncation(self):
        from parquery_spark.operators.multimodal import (
            make_jpeg,
            make_png,
            parse_image_dims,
        )

        assert parse_image_dims(b"") is None
        assert parse_image_dims(b"notanimage") is None
        assert parse_image_dims(make_png(5, 5)[:20]) is None
        assert parse_image_dims(make_jpeg(5, 5)[:6]) is None
        assert parse_image_dims(b"\x00" + make_png(7, 7)[1:]) is None
        assert parse_image_dims(b"\x00" + make_jpeg(7, 7)[1:]) is None
        assert parse_image_dims(make_png(0, 5)) is None  # zero dimension

    def test_maker_roundtrip(self):
        from parquery_spark.operators.multimodal import (
            make_jpeg,
            make_png,
            parse_image_dims,
        )

        assert parse_image_dims(make_png(4000, 3000, b"tail")) == (4000, 3000)
        assert parse_image_dims(make_jpeg(1, 4095, b"t")) == (1, 4095)
        # header lengths are load-bearing constants (the q222 oracle
        # recomputes n_bytes as text_bytes + 33 / + 21)
        assert len(make_png(1, 1)) == 33
        assert len(make_jpeg(1, 1)) == 21


class TestPngPixelCodec:
    """Real PNG pixel path (VERDICT r10 #5): make_png_rgb writes
    spec-valid PNGs whose scanline filters cycle all five types;
    decode_png_pixels must invert every one exactly."""

    def test_roundtrip_all_shapes_and_color_types(self):
        import numpy as np

        from parquery_spark.operators.multimodal import (
            decode_png_pixels,
            make_png_rgb,
            parse_image_dims,
        )

        rng = np.random.default_rng(11)
        # >=5 rows so every filter type (y % 5) appears at least once
        for shape in [(7, 9, 3), (5, 1, 3), (6, 4, 1), (8, 3, 4),
                      (13, 16, 3), (1, 1, 3)]:
            px = rng.integers(0, 256, shape, dtype=np.uint8)
            payload = make_png_rgb(px, extra=b"tail-bytes")
            got = decode_png_pixels(payload)
            assert got is not None and got.shape == shape
            assert (got == px).all(), shape
            assert parse_image_dims(payload) == (shape[1], shape[0])

    def test_hypothesis_roundtrip(self):
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from parquery_spark.operators.multimodal import (
            decode_png_pixels,
            make_png_rgb,
        )

        @settings(max_examples=25, deadline=None)
        @given(
            st.integers(1, 12), st.integers(1, 12),
            st.sampled_from([1, 3, 4]), st.integers(0, 2**31 - 1),
        )
        def prop(h, w, ch, seed):
            px = np.random.default_rng(seed).integers(
                0, 256, (h, w, ch), dtype=np.uint8
            )
            got = decode_png_pixels(make_png_rgb(px))
            assert got is not None and (got == px).all()

        prop()

    def test_truncated_idat_fails_cleanly(self):
        import numpy as np

        from parquery_spark.operators.multimodal import (
            _decode_stub,
            decode_png_pixels,
            make_png_rgb,
            parse_image_dims,
        )

        px = np.random.default_rng(3).integers(
            0, 256, (10, 10, 3), dtype=np.uint8
        )
        payload = make_png_rgb(px)
        trunc = payload[:45]  # sig(8) + IHDR chunk(25) survive
        assert parse_image_dims(trunc) == (10, 10)
        assert decode_png_pixels(trunc) is None
        rec = _decode_stub(trunc, "image")
        assert rec["decode_ok"] is True and rec["px_ok"] is False
        assert rec["px_mean_r"] is None and rec["px_min"] is None

    def test_unsupported_shapes_return_none(self):
        from parquery_spark.operators.multimodal import (
            decode_png_pixels,
            make_png,
        )

        # header-only PNG (q222's fixtures): no IDAT -> no pixels
        assert decode_png_pixels(make_png(5, 5)) is None
        assert decode_png_pixels(b"not a png at all") is None
        # corrupted zlib stream
        import numpy as np

        from parquery_spark.operators.multimodal import make_png_rgb

        px = np.zeros((4, 4, 3), dtype=np.uint8)
        payload = bytearray(make_png_rgb(px))
        payload[40] ^= 0xFF  # flip a byte inside the IDAT body
        assert decode_png_pixels(bytes(payload)) is None

    def test_pixel_stats_match_numpy(self):
        import numpy as np

        from parquery_spark.operators.multimodal import (
            _decode_stub,
            make_png_rgb,
        )

        px = np.random.default_rng(5).integers(
            0, 256, (9, 7, 3), dtype=np.uint8
        )
        rec = _decode_stub(make_png_rgb(px), "image")
        assert rec["px_ok"] is True
        assert rec["px_mean_r"] == round(float(px[:, :, 0].mean()), 6)
        assert rec["px_mean_g"] == round(float(px[:, :, 1].mean()), 6)
        assert rec["px_mean_b"] == round(float(px[:, :, 2].mean()), 6)
        assert rec["px_min"] == int(px.min())
        assert rec["px_max"] == int(px.max())
        # alpha excluded from stats by contract
        rgba = np.dstack([px, np.full((9, 7), 255, dtype=np.uint8)])
        rec4 = _decode_stub(make_png_rgb(rgba), "image")
        assert rec4["px_max"] == int(px.max())  # not alpha's 255


class TestIntervalJoinPreagg:
    """interval_join_preagg pair-EXACTNESS, tested in batch mode (the
    window-agg + window-join composition is mode-agnostic; q157's
    streaming drain is gated by the oracle).  The property: output pairs
    == the naive interval join's, each exactly once — including the
    boundary cases the first-half-ownership rule exists for (pairs that
    straddle a window edge, delay exactly == interval)."""

    def test_matches_naive_interval_join(self, spark):
        import datetime as dt

        from pyspark.sql import functions as F

        from parquery_spark.streaming.events import interval_join_preagg

        base = dt.datetime(2024, 1, 1)
        # adversarial layout: clicks at :59:xx pairing with purchases in
        # the NEXT hour bucket; delay exactly 3600s (inclusive edge);
        # same-timestamp pair (delay 0); multiple pairs per user; a
        # purchase pairing with TWO clicks; out-of-range partners
        def t(sec):
            return base + dt.timedelta(seconds=sec)

        clicks = spark.createDataFrame(
            [(1, t(0)), (1, t(3540)), (1, t(3599)), (2, t(100)),
             (2, t(7300)), (3, t(50))],
            "user_id long, c_ts timestamp",
        )
        purchases = spark.createDataFrame(
            [(1, t(0)), (1, t(3600)), (1, t(7199)), (2, t(3700)),
             (2, t(7350)), (3, t(3651)), (9, t(10))],
            "user_id long, p_ts timestamp",
        )
        got = sorted(
            (r["user_id"], r["c_ts"], r["p_ts"])
            for r in interval_join_preagg(
                clicks, purchases, "user_id", "c_ts", "p_ts",
                interval_sec=3600,
            ).collect()
        )
        want = sorted(
            (r["user_id"], r["c_ts"], r["p_ts"])
            for r in clicks.join(
                purchases,
                (clicks["user_id"] == purchases["user_id"])
                & (F.col("p_ts") >= F.col("c_ts"))
                & (F.col("p_ts")
                   <= F.col("c_ts") + F.expr("INTERVAL 3600 SECONDS")),
            ).select(clicks["user_id"], "c_ts", "p_ts").collect()
        )
        assert got == want
        # sanity: the inclusive edge and the straddling pair are present
        assert (1, t(0), t(3600)) in got
        assert (1, t(3599), t(7199)) in got


class TestRocksDBStateStore:
    """The RocksDB state-store provider is MEASURED in SCALING.md round
    10 (scale_smoke --streaming); this pins that the bundled provider
    actually loads and produces results identical to the default
    HDFS-map provider in this Spark build — so the SCALING numbers can't
    silently rot if a Spark upgrade drops/renames the class."""

    def test_windowed_agg_identical_under_rocksdb(
        self, spark, event_dir
    ):
        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)

        def drain(name):
            q = (
                windowed_event_counts(
                    spark, event_dir, EVENT_SCHEMA,
                    window="1 hour", watermark="2 hours",
                )
                .writeStream.format("memory").queryName(name)
                .outputMode("complete").trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            if q.exception() is not None:
                raise q.exception()
            return {
                (r["window_start"], r["event_type"]):
                    (r["n"], r["total_value"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }

        base = drain("rocks_base")
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            rocks = drain("rocks_rocks")
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        assert rocks == base and len(base) > 0
