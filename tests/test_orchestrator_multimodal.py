"""Orchestrator DAG/retry/breaker semantics + multimodal plumbing checks
not covered by the SQL oracle."""

from __future__ import annotations

import gc
import itertools
import threading
import time

import pytest
from pyspark.sql import functions as F

from dataengineeringpipeline_spark import orchestrator
from dataengineeringpipeline_spark.operators import multimodal as mm


# -- orchestrator ------------------------------------------------------------


def _no_sleep(_):
    pass


def test_pipeline_runs_in_dependency_order():
    order = []

    def job(name):
        def fn(results):
            order.append(name)
            return name

        return fn

    p = (
        orchestrator.Pipeline()
        .add("extract", job("extract"))
        .add("clean", job("clean"), depends_on=("extract",))
        .add("quality", job("quality"), depends_on=("clean",))
        .add("gold_a", job("gold_a"), depends_on=("quality",))
        .add("gold_b", job("gold_b"), depends_on=("quality",))
    )
    record = p.run()
    assert record["status"] == "succeeded"
    assert order.index("extract") < order.index("clean") < order.index("quality")
    assert set(order[3:]) == {"gold_a", "gold_b"}


def test_failure_skips_downstream_only():
    def boom(_):
        raise RuntimeError("boom")

    p = (
        orchestrator.Pipeline()
        .add("a", lambda r: 1)
        .add("b", boom, depends_on=("a",))
        .add("c", lambda r: 3, depends_on=("b",))
        .add("d", lambda r: 4, depends_on=("a",))
    )
    record = p.run(sleep=_no_sleep)
    assert record["status"] == "failed"
    assert record["job_status"] == {"a": "succeeded", "b": "failed", "c": "skipped", "d": "succeeded"}
    assert "boom" in record["failed"]["b"]


def test_retry_recovers_flaky_job():
    attempts = {"n": 0}

    def flaky(_):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    p = orchestrator.Pipeline().add("flaky", flaky, max_retries=3)
    record = p.run(sleep=_no_sleep)
    assert record["status"] == "succeeded" and attempts["n"] == 3


def test_unknown_dependency_rejected():
    p = orchestrator.Pipeline().add("a", lambda r: 1, depends_on=("nope",))
    with pytest.raises(ValueError, match="unknown jobs"):
        p.run()


def test_circuit_breaker_opens_and_recovers():
    br = orchestrator.CircuitBreaker(failure_threshold=2, recovery_timeout_s=0.0)

    def boom():
        raise RuntimeError("down")

    with pytest.raises(RuntimeError):
        orchestrator.execute_with_retry(boom, max_retries=1, breaker=br, sleep=_no_sleep)
    assert br.opened_at is not None
    # recovery_timeout 0 → half-open immediately; a success closes it
    assert orchestrator.execute_with_retry(lambda: "up", breaker=br) == "up"
    assert br.failures == 0 and br.opened_at is None


def test_classify_error_taxonomy():
    cls = orchestrator.classify_error
    EC = orchestrator.ErrorClass
    assert cls(orchestrator.DataQualityError("nulls over budget")) is EC.DATA_QUALITY
    assert cls(orchestrator.CircuitBreakerOpen("open")) is EC.RESOURCE_LIMIT
    assert cls(ConnectionError("refused")) is EC.TRANSIENT
    assert cls(RuntimeError("read timeout talking to source")) is EC.TRANSIENT
    assert cls(MemoryError()) is EC.RESOURCE_LIMIT
    assert cls(RuntimeError("throttled: request limit exceeded")) is EC.RESOURCE_LIMIT
    assert cls(RuntimeError("access denied for role etl")) is EC.AUTHENTICATION
    assert cls(ValueError("invalid parameter: watermark_column")) is EC.CONFIGURATION
    from pyspark.errors import AnalysisException

    assert cls(AnalysisException("TABLE_OR_VIEW_NOT_FOUND")) is EC.CONFIGURATION
    assert cls(RuntimeError("segfault in worker")) is EC.PERMANENT


def test_recovery_transient_is_retried_and_recovers():
    attempts = {"n": 0}

    def flaky(_):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise ConnectionError("connection reset")
        return "ok"

    p = orchestrator.Pipeline(recovery=orchestrator.RecoveryPolicy())
    p.add("ingest", flaky).add("downstream", lambda r: r["ingest"] + "!", depends_on=("ingest",))
    record = p.run(sleep=_no_sleep)
    assert record["status"] == "succeeded"
    assert attempts["n"] == 3
    assert record["failed"] == {}  # a recovered job is not a failure
    assert record["recovery"]["ingest"] == {
        "error_class": "transient",
        "action": "retry",
        "attempts": 1,
        "recovered": True,
    }
    assert record["results"]["downstream"] == "ok!"


def test_recovery_retry_bound_degrades_to_skip():
    attempts = {"n": 0}

    def always_down(_):
        attempts["n"] += 1
        raise ConnectionError("still down")

    p = orchestrator.Pipeline(recovery=orchestrator.RecoveryPolicy(max_recovery_attempts=2))
    p.add("ingest", always_down)
    p.add("dependent", lambda r: 1, depends_on=("ingest",))
    p.add("sibling", lambda r: 2)
    record = p.run(sleep=_no_sleep)
    assert attempts["n"] == 3  # initial + 2 bounded re-drives, then stop
    assert record["job_status"]["ingest"] == "failed"
    assert record["job_status"]["dependent"] == "skipped"
    assert record["job_status"]["sibling"] == "succeeded"  # SKIP spares siblings
    assert record["recovery"]["ingest"]["action"] == "skip"
    assert record["status"] == "failed"


def test_recovery_permanent_halts_pipeline():
    """HALT stops scheduling: a job still running at the halt finishes
    and keeps its real status, and a job that becomes ready only after
    the halt is never started (``skipped``), like every dependent of
    the failed job."""
    slow_started, bad_failing = threading.Event(), threading.Event()

    def corrupt(_):
        slow_started.wait(10)
        bad_failing.set()
        raise RuntimeError("segment decode failure")  # unknown → PERMANENT

    def slow(_):
        slow_started.set()
        bad_failing.wait(10)
        time.sleep(0.5)  # still running when the scheduler sees the halt
        return "done"

    ran = []
    p = orchestrator.Pipeline(recovery=orchestrator.RecoveryPolicy())
    p.add("a", lambda r: ran.append("a"))
    p.add("bad", corrupt, depends_on=("a",))
    p.add("slow", slow, depends_on=("a",))
    p.add("after_slow", lambda r: ran.append("after_slow"), depends_on=("slow",))
    p.add("after_bad", lambda r: ran.append("after_bad"), depends_on=("bad",))
    record = p.run(sleep=_no_sleep)
    assert record["job_status"] == {
        "a": "succeeded",
        "bad": "failed",
        "slow": "succeeded",
        "after_slow": "skipped",
        "after_bad": "skipped",
    }
    assert ran == ["a"]
    assert record["results"]["slow"] == "done"
    assert record["recovery"]["bad"] == {
        "error_class": "permanent",
        "action": "halt",
        "attempts": 0,
    }
    assert record["status"] == "failed"


def test_recovery_data_quality_is_quarantined_and_continues():
    def gate(_):
        raise orchestrator.DataQualityError("null rate 12% > 5% budget")

    p = orchestrator.Pipeline(recovery=orchestrator.RecoveryPolicy())
    p.add("extract", lambda r: "rows")
    p.add("dq_gate", gate, depends_on=("extract",))
    # dependents of a quarantined job still run (they must tolerate the
    # missing upstream result — the quarantine contract)
    p.add("gold", lambda r: r.get("dq_gate", "degraded"), depends_on=("dq_gate",))
    record = p.run(sleep=_no_sleep)
    assert record["job_status"] == {
        "extract": "succeeded",
        "dq_gate": "quarantined",
        "gold": "succeeded",
    }
    assert record["results"]["gold"] == "degraded"
    assert record["recovery"]["dq_gate"]["action"] == "quarantine"
    assert "dq_gate" in record["failed"]  # the quarantine reason is recorded
    assert record["status"] == "partial"


def test_recovery_record_feeds_job_status_alerts(spark):
    """The execution record with quarantined/partial states classifies
    cleanly through the alerting surface."""
    from dataengineeringpipeline_spark import alerts

    def gate(_):
        raise orchestrator.DataQualityError("dq budget blown")

    p = orchestrator.Pipeline(recovery=orchestrator.RecoveryPolicy())
    p.add("extract", lambda r: 1).add("dq_gate", gate, depends_on=("extract",))
    record = p.run(sleep=_no_sleep)
    rows = {
        r["source_name"]: r["severity"]
        for r in alerts.job_status_alerts(spark, record).collect()
    }
    assert rows["extract"] == "INFO"
    assert rows["dq_gate"] == "WARNING"
    assert rows["__overall__"] == "WARNING"  # PARTIAL


def test_recovery_backoff_delays_are_bounded():
    policy = orchestrator.RecoveryPolicy(base_delay_s=1.0, max_delay_s=4.0)
    delays = []

    def always_down(_):
        raise ConnectionError("down")

    p = orchestrator.Pipeline(recovery=policy)
    p.add("j", always_down)
    p.run(sleep=delays.append)
    assert delays == [1.0, 2.0, 4.0]  # 2^n backoff, capped at max_delay_s


def test_medallion_dag_with_quarantined_dq_gate(spark, sf_dir, tmp_path):
    """End-to-end: a DQ gate blowing its budget is quarantined, the gold
    job still builds from silver, the run reports PARTIAL, and the
    alerting surface classifies the record — the recovery loop as a user
    would actually wire it."""
    from dataengineeringpipeline_spark import alerts, cleaning, gold, quality
    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path / "lake"))

    def silver(r):
        df = cleaning.clean_orders(spark.read.parquet(f"{sf_dir}/orders.parquet"))
        lake.write(df, "silver", "orders")
        return df

    def dq_gate(r):
        report = quality.evaluate_rules(
            lake.read(spark, "silver", "orders"),
            # impossible threshold: every order under $1 — gate must blow
            (quality.Rule("cheap_orders_only", "total_price < 1.0", 0.99),),
        )
        failed = report.filter(~F.col("passed")).count()
        if failed:
            raise orchestrator.DataQualityError(f"{failed} rule(s) failed")
        return report

    def daily(r):
        df = gold.daily_sales_summary(lake.read(spark, "silver", "orders"))
        lake.write(df, "gold", "daily_sales")
        return df

    record = (
        orchestrator.Pipeline(recovery=orchestrator.RecoveryPolicy())
        .add("silver", silver)
        .add("dq_gate", dq_gate, depends_on=("silver",))
        .add("gold", daily, depends_on=("dq_gate",))
        .run(sleep=_no_sleep)
    )
    assert record["status"] == "partial"
    assert record["job_status"] == {
        "silver": "succeeded",
        "dq_gate": "quarantined",
        "gold": "succeeded",
    }
    assert record["recovery"]["dq_gate"]["error_class"] == "data_quality"
    assert lake.read(spark, "gold", "daily_sales").count() > 0
    sev = {
        r["source_name"]: r["severity"]
        for r in alerts.job_status_alerts(spark, record).collect()
    }
    assert sev["dq_gate"] == "WARNING" and sev["__overall__"] == "WARNING"


def test_end_to_end_medallion_dag(spark, sf_dir, tmp_path):
    """Bronze→silver→gold as a DAG over a temp lake — the reference's
    pipeline shape in-process."""
    from dataengineeringpipeline_spark import cleaning, gold
    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path / "lake"))

    def bronze(r):
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        lake.write(df, "bronze", "orders")
        return df

    def silver(r):
        df = cleaning.clean_orders(lake.read(spark, "bronze", "orders"))
        lake.write(df, "silver", "orders", partition_by=("order_year",))
        return df

    def daily(r):
        df = gold.daily_sales_summary(lake.read(spark, "silver", "orders"))
        lake.write(df, "gold", "daily_sales")
        return df

    record = (
        orchestrator.Pipeline()
        .add("bronze", bronze)
        .add("silver", silver, depends_on=("bronze",))
        .add("gold", daily, depends_on=("silver",))
        .run()
    )
    assert record["status"] == "succeeded"
    out = lake.read(spark, "gold", "daily_sales")
    assert out.count() > 0


# -- multimodal --------------------------------------------------------------


def test_multimodal_payload_roundtrip(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = mm.attach_payloads(docs)
    row = media.select("payload", "media_meta").first()
    assert row["media_meta"]["byte_size"] == len(row["payload"])
    assert row["media_meta"]["mime"].startswith("application/x-fake-")


def test_multimodal_entropy_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = mm.extract_features(mm.attach_payloads(docs))
    bad = feats.filter(
        F.col("byte_entropy").isNull()
        | (F.col("byte_entropy") < 0)
        | (F.col("byte_entropy") > 8.0)
    ).count()
    assert bad == 0


def test_decode_unknown_container_raises():
    with pytest.raises(NotImplementedError, match="image"):
        mm.decode_media(b"\x89PNG", "image")


def test_bmp_golden_bytes_and_roundtrip():
    import numpy as np

    # Hand-built 1x2 image: pixels RGB (1,2,3) and (4,5,6). BMP stores
    # one bottom-up row in BGR with the 2x3=6 data bytes padded to 8.
    px = np.array([[[1, 2, 3], [4, 5, 6]]], dtype=np.uint8)
    payload = mm.encode_bmp(px)
    assert payload[:2] == b"BM"
    assert len(payload) == 14 + 40 + 8
    assert payload[54:62] == bytes([3, 2, 1, 6, 5, 4, 0, 0])
    assert (mm.decode_bmp(payload) == px).all()
    assert (mm.decode_media(payload, "image") == px).all()


def test_bmp_row_padding_roundtrip():
    import numpy as np

    # width 3 -> 9 data bytes padded to 12 per row; 2 rows flipped
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert (mm.decode_bmp(mm.encode_bmp(px)) == px).all()


def test_bmp_exotic_variants_raise():
    import numpy as np

    payload = bytearray(mm.encode_bmp(np.zeros((1, 1, 3), dtype=np.uint8)))
    payload[28] = 8  # bpp 24 -> 8 (paletted)
    with pytest.raises(NotImplementedError, match="24-bit"):
        mm.decode_bmp(bytes(payload))


def test_wav_golden_bytes_and_roundtrip():
    import numpy as np

    s = np.array([0, 1000, -32768, 32767, -1], dtype=np.int16)
    payload = mm.encode_wav(s, 8000)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    # fmt chunk: PCM(1), mono(1), 8000 Hz, 16-bit
    import struct

    fmt = struct.unpack_from("<HHIIHH", payload, 20)
    assert fmt == (1, 1, 8000, 16000, 2, 16)
    out, rate = mm.decode_wav(payload)
    assert rate == 8000 and (out == s).all()
    out2, _ = mm.decode_media(payload, "audio")
    assert (out2 == s).all()


def test_wav_stereo_raises():
    import struct

    import numpy as np

    payload = bytearray(mm.encode_wav(np.zeros(4, dtype=np.int16)))
    struct.pack_into("<H", payload, 22, 2)  # channels 1 -> 2
    with pytest.raises(NotImplementedError, match="mono"):
        mm.decode_wav(bytes(payload))


def test_png_roundtrip_and_dispatch():
    import numpy as np

    px = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3) * 3 % 256
    payload = mm.encode_png(px)
    assert payload[:8] == mm.PNG_MAGIC
    assert (mm.decode_png(payload) == px).all()
    assert (mm.decode_media(payload, "image") == px).all()


def test_png_all_filter_types_unfilter_correctly():
    """Hand-filter each scanline with a different spec filter (None,
    Sub, Up, Average, Paeth) and check the decoder reconstructs the
    original pixels — the part a codec can't fake."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(7)
    h, w, bpp = 5, 6, 3
    px = rng.randint(0, 256, size=(h, w, bpp)).astype(np.uint8)
    stride = w * bpp
    flat = px.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    for r, f in enumerate([0, 1, 2, 3, 4]):
        cur = flat[r]
        prev = flat[r - 1] if r else np.zeros(stride, dtype=np.int32)
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]])
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prev
        elif f == 3:
            filt = cur - (left + prev) // 2
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
            filt = cur - pred
        raw += bytes([f]) + (filt % 256).astype(np.uint8).tobytes()

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    payload = (
        mm.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert (mm.decode_png(payload) == px).all()


def test_png_exotic_variants_raise():
    import struct
    import zlib

    import numpy as np

    payload = bytearray(mm.encode_png(np.zeros((2, 2, 3), dtype=np.uint8)))
    # corrupt the IHDR CRC
    bad_crc = bytearray(payload)
    bad_crc[-17] ^= 0xFF  # a byte inside the IDAT data
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(bad_crc))
    # grayscale (color type 0) is outside the supported boundary
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    gray = (
        mm.PNG_MAGIC
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        + struct.pack(">I", 0)
        + b"IDAT"
        + struct.pack(">I", zlib.crc32(b"IDAT") & 0xFFFFFFFF)
    )
    with pytest.raises(NotImplementedError, match="truecolor"):
        mm.decode_png(gray)


def test_decoded_media_features_roundtrip(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = mm.multimodal_decode_report(docs).collect()
    assert rows, "sample is non-empty"
    for r in rows:
        d = r["doc_id"]
        if d % 2 == 0:
            assert r["modality"] == "image"
            if d % 8 == 2:  # flat-gray JPEG fixed point, lossless round trip
                assert (r["width"], r["height"]) == (8, 6)
                assert r["mean_value"] == 2 * ((d * 17) % 128)
            else:
                assert (r["width"], r["height"]) == (8, 4 + d % 4)
                n = (4 + d % 4) * 24
                expect = sum((d * 31 + i) % 256 for i in range(n)) / n
                assert r["mean_value"] == expect
            assert r["sample_rate"] is None and r["duration_s"] is None
        else:
            assert r["modality"] == "audio"
            n = 64 + d % 32
            assert (r["sample_rate"], r["n_samples"]) == (8000, n)
            assert r["duration_s"] == n / 8000
            # samples are mu-law codebook expansions of the code stream
            # (independent python model of the expansion arithmetic)
            def expand(code: int) -> int:
                u = ~code & 0xFF
                mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
                return -mag if u & 0x80 else mag

            expect = sum(expand((d * 7 + i * 13) % 256) for i in range(n)) / n
            assert r["mean_value"] == expect
            assert r["width"] is None and r["height"] is None


def test_frame_sample_plan_covers_all_chunks(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = mm.attach_payloads(docs)
    plan = mm.frame_sample_plan(media, every_n_chunks=1)
    per_doc = plan.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    joined = media.select(
        "doc_id", F.ceil(F.col("media_meta.byte_size") / mm.CHUNK_BYTES).cast("long").alias("expect")
    ).join(per_doc, "doc_id")
    # docs smaller than one chunk still get one sampled offset
    mismatch = joined.filter(
        F.col("n") != F.greatest(F.col("expect"), F.lit(1))
    ).count()
    assert mismatch == 0


# -- durations + critical path ----------------------------------------------


def test_run_records_job_durations_with_injected_clock():
    from dataengineeringpipeline_spark.orchestrator import Pipeline

    ticks = iter(range(100))  # each clock() call advances 1s
    p = (
        Pipeline()
        .add("a", lambda r: 1)
        .add("b", lambda r: 2, depends_on=("a",))
    )
    rec = p.run(clock=lambda: float(next(ticks)))
    assert set(rec["durations"]) == {"a", "b"}
    # one clock pair per job under the deterministic clock
    assert rec["durations"]["a"] == 1.0
    assert rec["durations"]["b"] == 1.0


def test_critical_path_picks_longest_chain():
    from dataengineeringpipeline_spark.orchestrator import Pipeline, critical_path

    #      a(1) ─→ b(5) ─→ d(1)
    #        └──→ c(2) ──┘       longest: a→b→d = 7
    p = (
        Pipeline()
        .add("a", lambda r: None)
        .add("b", lambda r: None, depends_on=("a",))
        .add("c", lambda r: None, depends_on=("a",))
        .add("d", lambda r: None, depends_on=("b", "c"))
    )
    rec = {"durations": {"a": 1.0, "b": 5.0, "c": 2.0, "d": 1.0}}
    cp = critical_path(p, rec)
    assert cp["path"] == ["a", "b", "d"]
    assert cp["total_s"] == 7.0
    assert cp["job_seconds"] == {"a": 1.0, "b": 5.0, "d": 1.0}


def test_critical_path_tolerates_partial_runs_and_ties():
    from dataengineeringpipeline_spark.orchestrator import Pipeline, critical_path

    p = (
        Pipeline()
        .add("a", lambda r: None)
        .add("b", lambda r: None, depends_on=("a",))
        .add("c", lambda r: None, depends_on=("a",))
    )
    # b never ran (no duration); equal-length tie b/c broken by name (max)
    cp = critical_path(p, {"durations": {"a": 2.0, "c": 0.0}})
    assert cp["path"][0] == "a"
    assert cp["total_s"] == 2.0
    # empty pipeline
    from dataengineeringpipeline_spark.orchestrator import Pipeline as P2

    assert critical_path(P2(), {"durations": {}})["path"] == []


# -- concurrent scheduling ---------------------------------------------------


def test_independent_jobs_run_concurrently():
    """Two jobs with no dependency between them meet at a barrier, which
    only passes when both are running at once."""
    barrier = threading.Barrier(2, timeout=10)
    p = (
        orchestrator.Pipeline()
        .add("left", lambda r: barrier.wait())
        .add("right", lambda r: barrier.wait())
    )
    record = p.run()
    assert record["job_status"] == {"left": "succeeded", "right": "succeeded"}
    assert sorted(record["results"].values()) == [0, 1]


def test_dependent_never_starts_before_its_dependencies_finish():
    lock = threading.Lock()
    events = []

    def job(name, delay):
        def fn(_):
            with lock:
                events.append(("start", name))
            time.sleep(delay)
            with lock:
                events.append(("end", name))
            return name

        return fn

    p = (
        orchestrator.Pipeline()
        .add("src_slow", job("src_slow", 0.3))
        .add("src_fast", job("src_fast", 0.0))
        .add("left", job("left", 0.05), depends_on=("src_slow",))
        .add("both", job("both", 0.0), depends_on=("src_slow", "src_fast"))
        .add("right", job("right", 0.1), depends_on=("src_fast",))
        .add("sink", job("sink", 0.0), depends_on=("left", "both", "right"))
    )
    record = p.run()
    assert record["status"] == "succeeded"
    at = {event: i for i, event in enumerate(events)}
    for j in p.jobs:
        for dep in j.depends_on:
            assert at[("end", dep)] < at[("start", j.name)], (dep, j.name, events)
    # "right" waits only for the fast source: it starts before the slow
    # source finishes, i.e. there is no wave barrier between levels
    assert at[("start", "right")] < at[("end", "src_slow")]


def test_record_does_not_depend_on_finish_order():
    def build(delays):
        def source(name, delay):
            def fn(_):
                time.sleep(delay)
                return name.upper()

            return fn

        def gate(_):
            raise orchestrator.DataQualityError("null rate over budget")

        p = orchestrator.Pipeline(recovery=orchestrator.RecoveryPolicy())
        for name, delay in zip("abcd", delays):
            p.add(name, source(name, delay))
        p.add("gate", gate, depends_on=("c",))
        p.add("sink", lambda r: "".join(r.get(k, "-") for k in "abcd"),
              depends_on=("a", "b", "d", "gate"))
        return p.run(inputs={"bronze": 0}, sleep=_no_sleep)

    records = [build(d) for d in itertools.islice(
        itertools.permutations((0.0, 0.02, 0.04, 0.06)), 0, 24, 5)]
    first = records[0]
    assert first["job_status"] == {
        "a": "succeeded", "b": "succeeded", "c": "succeeded", "d": "succeeded",
        "gate": "quarantined", "sink": "succeeded",
    }
    assert first["results"]["sink"] == "ABCD"
    for rec in records[1:]:
        for key in ("job_status", "results", "failed", "recovery"):
            assert list(rec[key].items()) == list(first[key].items()), key


def test_random_wide_dag_under_fast_thread_switching():
    """Stress: 120 jobs over a seeded random DAG, more pool threads than
    cores, and a very short interpreter switch interval. Every job runs
    exactly once, after all of its dependencies, and computes the same
    value a serial evaluation does."""
    import random
    import sys

    rng = random.Random(7)
    deps = {f"j{i}": tuple(sorted({f"j{rng.randrange(i)}" for _ in range(rng.randint(0, 3))}))
            if i else () for i in range(120)}
    expect: dict[str, int] = {}
    for name, ds in deps.items():  # declaration order is topological
        expect[name] = 1 + sum(expect[d] for d in ds)
    calls = {name: 0 for name in deps}
    lock = threading.Lock()

    def job(name):
        def fn(r):
            with lock:
                calls[name] += 1
            return 1 + sum(r[d] for d in deps[name])

        return fn

    p = orchestrator.Pipeline()
    for name, ds in deps.items():
        p.add(name, job(name), depends_on=ds)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        record = p.run()
    finally:
        sys.setswitchinterval(interval)
    assert record["status"] == "succeeded"
    assert record["results"] == expect
    assert set(calls.values()) == {1}


def test_deep_chain_runs_to_completion():
    """A DAG deeper than any fixed iteration budget still completes."""
    p = orchestrator.Pipeline().add("j0", lambda r: 0)
    for i in range(1, 60):
        p.add(f"j{i}", lambda r, i=i: r[f"j{i - 1}"] + 1, depends_on=(f"j{i - 1}",))
    record = p.run()
    assert record["status"] == "succeeded"
    assert set(record["job_status"].values()) == {"succeeded"}
    assert record["results"]["j59"] == 59
    assert record["iterations"] == 60


def test_jobs_label_their_spark_jobs(spark):
    sc = spark.sparkContext
    p = orchestrator.Pipeline()
    for name in ("label.left", "label.right"):
        p.add(name, lambda r: spark.range(5).count())
    assert p.run()["status"] == "succeeded"
    tracker = sc.statusTracker()
    for name in ("label.left", "label.right"):
        assert tracker.getJobIdsForGroup(name), name
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_repeated_runs_do_not_leak_py4j_threads(spark):
    """Each pool thread that calls into Spark pins a JVM thread serving
    its py4j connection; the connection must close when the run's pool
    shuts down. Counted as the JVM threads running py4j code: the JVM's
    total thread count also holds Spark's cached pools (shuffle, block
    manager, AQE stage executors), which grow with work whether jobs
    run concurrently or not and idle out after 60 s."""
    threads = spark._jvm.java.lang.management.ManagementFactory.getThreadMXBean()

    def py4j_threads(at_most=None):
        """The count, once closed connections' JVM threads have exited:
        a dead Python thread's connection closes when it is collected,
        and its JVM thread exits when it sees the socket close."""
        deadline = time.monotonic() + 5
        while True:
            gc.collect()
            n = sum(
                any("py4j" in frame.getClassName() for frame in t.getStackTrace())
                for t in threads.dumpAllThreads(False, False)
            )
            if at_most is None or n <= at_most or time.monotonic() > deadline:
                return n
            time.sleep(0.1)

    def run():
        p = orchestrator.Pipeline()
        for i in range(6):
            p.add(f"leak.{i}", lambda r, i=i: spark.range(10 + i).count())
        assert p.run()["status"] == "succeeded"

    base = py4j_threads()
    counts = []
    for _ in range(5):
        run()
        counts.append(py4j_threads(at_most=base))
    assert max(counts) <= base, (base, counts)


def test_mulaw_codec_properties():
    """G.711 mu-law: codebook values are value-level fixed points for
    all 256 codes (byte-level for all but the negative-zero code 127,
    which canonicalizes to 255 — both decode to 0), quantization error
    is bounded by half the top-segment step, and the mu-law WAV
    container round-trips codebook samples exactly."""
    import numpy as np

    from dataengineeringpipeline_spark.operators import multimodal as mm

    codes = np.arange(256, dtype=np.uint8)
    ex = mm._mulaw_expand(codes)
    rt = mm._mulaw_compress(ex)
    assert np.array_equal(mm._mulaw_expand(rt), ex)  # value-level fixed
    mism = np.where(rt != codes)[0]
    assert list(mism) == [127] and ex[127] == 0 and rt[127] == 255

    x = np.arange(-32768, 32768, 7, dtype=np.int16)
    q = mm._mulaw_expand(mm._mulaw_compress(x))
    err = np.abs(q.astype(np.int64) - np.clip(x, -32635, 32635).astype(np.int64))
    assert err.max() <= 512  # half of the 1024-wide top-segment bucket

    s = mm._mulaw_expand(((np.arange(70) * 13 + 21) % 256).astype(np.uint8))
    d, rate = mm.decode_wav(mm.encode_wav_mulaw(s, 8000))
    assert rate == 8000 and np.array_equal(d, s)
    # mu-law payload is half the PCM size (plus fixed header delta)
    assert len(mm.encode_wav_mulaw(s)) < len(mm.encode_wav(s)) - 50


def test_jpeg_handbuilt_flat128_decodes_exactly():
    """Encoder-INDEPENDENT decode check: an 8x8 flat-128 baseline JPEG's
    scan is hand-derivable from the public Annex-K tables (DC category 0
    = bits '00', luma EOB = '1010', 1-padded -> the single scan byte
    0x2B). Build the file from spec-level pieces and assert the decoder
    returns all-128 — this catches any self-cancelling encoder/decoder
    bug the round-trip tests cannot see."""
    import struct

    import numpy as np

    from dataengineeringpipeline_spark.operators import jpeg as J

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes(
        int(x) for x in J.QUANT_LUMA[J.ZIGZAG]
    )
    sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for cls, bits, vals in (
        (0, J.DC_LUMA_BITS, J.DC_LUMA_VALS),
        (1, J.AC_LUMA_BITS, J.AC_LUMA_VALS),
    ):
        body = bytes([(cls << 4) | 0]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += b"\x2b"  # hand-derived scan: '00' (DC cat 0) + '1010' (EOB) + '11'
    out += b"\xff\xd9"
    decoded = J.decode_jpeg(bytes(out))
    assert decoded.shape == (8, 8, 3)
    assert np.all(decoded == 128)


def test_jpeg_flat_gray_fixed_points_roundtrip_exactly():
    """Even flat values are quantizer fixed points: DC = 8*(v-128) is
    divisible by the Annex-K DC quantum (16), AC is exactly zero, so the
    lossy pipeline is lossless on them — including with non-8-multiple
    dims (edge-replicated padding stays flat) and restart markers."""
    import numpy as np

    from dataengineeringpipeline_spark.operators.jpeg import decode_jpeg, encode_jpeg

    for v in (0, 2, 64, 128, 200, 254):
        img = np.full((6, 8), v, dtype=np.uint8)
        got = decode_jpeg(encode_jpeg(img))
        assert got.shape == (6, 8, 3) and np.all(got == v), v
    big = np.full((33, 41), 202, dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(big, restart_interval=3))
    assert got.shape == (33, 41, 3) and np.all(got == 202)


def test_jpeg_gradient_roundtrip_bounded_error():
    import numpy as np

    from dataengineeringpipeline_spark.operators.jpeg import decode_jpeg, encode_jpeg

    h, w = 24, 40
    img = np.minimum(
        np.arange(h)[:, None] * 3 + np.arange(w)[None, :] * 2, 255
    ).astype(np.uint8)
    got = decode_jpeg(encode_jpeg(img))
    assert got.shape == (h, w, 3)
    err = np.abs(got[..., 0].astype(int) - img.astype(int))
    assert err.mean() < 3 and err.max() <= 12  # Q50 quantization envelope


def test_jpeg_color_444_and_420_roundtrip():
    import numpy as np

    from dataengineeringpipeline_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = np.zeros((17, 19, 3), dtype=np.uint8)
    img[..., 0] = np.linspace(0, 200, 17)[:, None].astype(np.uint8)
    img[..., 1] = np.linspace(30, 220, 19)[None, :].astype(np.uint8)
    img[..., 2] = 90
    for sub in ((1, 1), (2, 2)):
        got = decode_jpeg(encode_jpeg(img, subsample=sub))
        assert got.shape == img.shape
        err = np.abs(got.astype(int) - img.astype(int))
        assert err.mean() < 6, (sub, err.mean())


def test_jpeg_restart_interval_decodes_identically():
    """RSTn resync + DC predictor reset must not change a single pixel
    vs the unsegmented scan."""
    import numpy as np

    from dataengineeringpipeline_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = ((np.arange(48)[:, None] * 5 + np.arange(48)[None, :] * 3) % 230).astype(
        np.uint8
    )
    assert np.array_equal(
        decode_jpeg(encode_jpeg(img)), decode_jpeg(encode_jpeg(img, restart_interval=4))
    )


def test_jpeg_exotic_variants_raise():
    import struct

    import numpy as np
    import pytest

    from dataengineeringpipeline_spark.operators.jpeg import decode_jpeg, encode_jpeg

    payload = bytearray(encode_jpeg(np.full((8, 8), 100, np.uint8)))
    # flip SOF0 -> SOF9 (arithmetic-coded sequential): an honest boundary
    # (SOF2 progressive is SUPPORTED as of round 8 — see the round-trip
    # tests below)
    i = payload.find(b"\xff\xc0")
    payload[i + 1] = 0xC9
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(payload))
    with pytest.raises(NotImplementedError):
        decode_jpeg(b"\x00\x01not a jpeg")
    with pytest.raises(NotImplementedError):
        encode_jpeg(np.zeros((8, 8, 3), np.uint8), subsample=(2, 1))


def test_jpeg_fill_bytes_and_multiscan_boundary():
    """Spec-legal 0xFF fill bytes before a marker decode identically;
    a multi-scan (non-interleaved) baseline stream raises
    NotImplementedError instead of misreading the MCU layout."""
    import struct

    import numpy as np

    from dataengineeringpipeline_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    enc = encode_jpeg(img)
    base = decode_jpeg(enc)

    # insert a run of fill bytes right after SOI (before the first marker)
    padded = enc[:2] + b"\xff\xff" + enc[2:]
    assert np.array_equal(decode_jpeg(padded), base)

    # rewrite the SOS header to Ns=1 (< 3 frame components): a
    # non-interleaved scan — must be an honest boundary, not a misdecode
    i = enc.find(b"\xff\xda")
    assert enc[i + 4] == 3  # 3-component interleaved scan
    multiscan = (
        enc[: i + 2]
        + struct.pack(">H", 8)
        + bytes([1])
        + enc[i + 5 : i + 7]
        + enc[i + 11 : i + 14]
        + enc[i + 14 :]
    )
    try:
        decode_jpeg(multiscan)
        raise AssertionError("expected NotImplementedError for multi-scan")
    except NotImplementedError:
        pass


def test_jpeg_nondivisor_upsample_index_map():
    """The index-mapped chroma upsample reduces exactly to integer
    repeat on divisor ratios (4:2:0 round trip unchanged) and handles a
    non-divisor 3:2 plane without shape errors (direct kernel check —
    the encoder only emits divisor ratios)."""
    import numpy as np

    from dataengineeringpipeline_spark.operators.jpeg import decode_jpeg, encode_jpeg

    # divisor path still exact: flat-gray 4:2:0 fixed point
    img = np.full((20, 28, 3), 130, dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(img, subsample=(2, 2)))
    assert np.array_equal(got, img)

    # kernel equivalence: index map == np.repeat for factor 2
    p = np.arange(12, dtype=np.float64).reshape(3, 4)
    th, tw = 6, 8
    rows = (np.arange(th) * 3) // 6  # cv=3, vmax=6 -> factor 2
    cols = (np.arange(tw) * 4) // 8
    assert np.array_equal(p[rows[:, None], cols], np.repeat(np.repeat(p, 2, 0), 2, 1))
    # non-divisor 3:2: maps cleanly onto the target grid (no crash, shape ok)
    th2 = 9  # vmax=3 over cv=2: 6-row source plane -> 9-row target
    rows2 = (np.arange(th2) * 2) // 3
    src = np.arange(24, dtype=np.float64).reshape(6, 4)
    up = src[rows2[:, None], np.arange(4)]
    assert up.shape == (9, 4) and up[0, 0] == src[0, 0] and up[8, 0] == src[5, 0]


def test_progressive_jpeg_roundtrip_equals_baseline():
    """Progressive (SOF2) decode must reproduce the baseline decode
    BIT-FOR-BIT: the default script sends every coefficient bit
    (spectral bands + two successive-approximation layers for DC and
    AC), so both streams carry identical quantized coefficients."""
    import numpy as np

    from dataengineeringpipeline_spark.operators import jpeg as J

    rng = np.random.default_rng(42)
    for shape, sub in [
        ((16, 16, 3), (1, 1)),
        ((24, 40, 3), (2, 2)),
        ((17, 23, 3), (2, 2)),  # odd dims + subsampling: dummy-block edge
        ((8, 8), (1, 1)),
        ((19, 13), (1, 1)),
    ]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        if len(shape) == 3:
            base = J.decode_jpeg(J.encode_jpeg(img, subsample=sub))
            prog = J.decode_jpeg(J.encode_jpeg_progressive(img, subsample=sub))
        else:
            base = J.decode_jpeg(J.encode_jpeg(img))
            prog = J.decode_jpeg(J.encode_jpeg_progressive(img))
        assert np.array_equal(base, prog), f"{shape}/{sub} diverged"


def test_progressive_jpeg_spectral_only_script_and_flat_fixed_point():
    """A spectral-selection-only script (no successive approximation)
    decodes identically too, and the flat-gray quantizer fixed point
    survives the progressive path (lossless end to end)."""
    import numpy as np

    from dataengineeringpipeline_spark.operators import jpeg as J

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(20, 28, 3), dtype=np.uint8)
    script = (
        ((0, 1, 2), 0, 0, 0, 0),
        ((0,), 1, 9, 0, 0),
        ((0,), 10, 63, 0, 0),
        ((1,), 1, 63, 0, 0),
        ((2,), 1, 63, 0, 0),
    )
    base = J.decode_jpeg(J.encode_jpeg(img))
    prog = J.decode_jpeg(J.encode_jpeg_progressive(img, script=script))
    assert np.array_equal(base, prog)

    flat = np.full((16, 16, 3), 130, dtype=np.uint8)  # even gray: lossless
    assert np.array_equal(J.decode_jpeg(J.encode_jpeg_progressive(flat)), flat)
