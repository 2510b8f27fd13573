"""Resumable-run tests: interrupt after one chunk, resume, verify
exact completion with no duplicates (north-rule checkpoint semantics)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pandas as pd
import pytest

from libpdf_spark.config import ExtractConfig
from libpdf_spark.fixtures import gen_transcripts
from libpdf_spark.lineage import _append_lineage, completed_buckets, read_lineage, run_resumable
from libpdf_spark.pipeline import extract_turns

OUT = "/tmp/libpdf_spark_test_lineage"
COUNTS = ["n_turns", "n_docs", "n_parse_failures", "n_elements", "bytes_in"]


@pytest.fixture()
def corpus_df(spark):
    transcripts, expected_text, _ = gen_transcripts(n_convs=10, seed=11)
    # one malformed document turn: a parse-failure row, never a job abort
    bad = transcripts.iloc[[0]].assign(
        conv_id="conv-malformed", turn_idx=0,
        text="<<<LIBPDF_DOC>>>{oops<<<END_LIBPDF_DOC>>>",
    )
    transcripts = pd.concat([transcripts, bad], ignore_index=True)
    return spark.createDataFrame(transcripts), transcripts, expected_text


def _assert_lineage_matches_data(spark, out: str, n_buckets: int) -> None:
    """Each bucket has exactly one lineage row, and its counts are the
    aggregates of that bucket's rows in ``data/`` (zeros when empty)."""
    data = (
        spark.read.parquet(f"{out}/data")
        .select("bucket", "doc_found", "parse_ok", "n_elements", "bytes_in")
        .toPandas()
    )
    lin = read_lineage(spark, out).toPandas()
    assert sorted(lin.bucket) == list(range(n_buckets))
    assert set(range(n_buckets)) - set(data.bucket), "corpus must leave a bucket empty"
    for row in lin.itertuples():
        rows = data[data.bucket == row.bucket]
        want = (
            len(rows),
            int(rows.doc_found.sum()),
            int(rows.doc_found.sum() - rows.parse_ok.sum()),
            int(rows.n_elements.sum()),
            int(rows.bytes_in.sum()),
        )
        assert tuple(getattr(row, c) for c in COUNTS) == want, row


def test_interrupt_and_resume(spark, corpus_df):
    df, transcripts, expected_text = corpus_df
    shutil.rmtree(OUT, ignore_errors=True)
    cfg = ExtractConfig()

    # first invocation commits only ONE chunk (simulated kill)
    r1 = run_resumable(spark, df, OUT, cfg, n_buckets=8, chunk_size=2, max_chunks=1)
    assert len(r1["committed_chunks"]) == 1
    assert r1["remaining"]
    done1 = completed_buckets(spark, OUT)
    assert done1 == set(r1["committed_chunks"][0])

    # partial data on disk covers exactly the committed NON-EMPTY
    # buckets (a bucket no conv_id hashes to is "done" with no data)
    from pyspark.sql import functions as F

    nonempty = {
        r.b
        for r in df.select(F.pmod(F.hash("conv_id"), F.lit(8)).alias("b"))
        .distinct()
        .collect()
    }
    partial = spark.read.parquet(f"{OUT}/data")
    got_buckets = set(r.bucket for r in partial.select("bucket").distinct().collect())
    assert got_buckets == done1 & nonempty

    # resume completes the rest without touching committed buckets
    r2 = run_resumable(spark, df, OUT, cfg, n_buckets=8, chunk_size=2)
    assert set(b for ch in r2["committed_chunks"] for b in ch) == set(r1["remaining"])
    assert completed_buckets(spark, OUT) == set(range(8))

    # full output: exactly one row per input turn, no duplicates
    out = spark.read.parquet(f"{OUT}/data")
    assert out.count() == len(transcripts)
    assert out.select("conv_id", "turn_idx").distinct().count() == len(transcripts)

    # per-turn text equality still holds end-to-end through resume
    got = (
        out.filter("parse_ok")
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
    )
    merged = got.merge(expected_text, on=["conv_id", "turn_idx"])
    assert len(merged) == len(expected_text)
    assert (merged.extracted_text_x == merged.extracted_text_y).all()

    # lineage metrics reconcile with the data, bucket by bucket
    lin = read_lineage(spark, OUT).toPandas()
    assert lin.status.eq("done").all()
    assert lin.n_turns.sum() == len(transcripts)
    assert lin.n_parse_failures.sum() == 1
    _assert_lineage_matches_data(spark, OUT, 8)

    # idempotence: a third run has nothing to do
    r3 = run_resumable(spark, df, OUT, cfg, n_buckets=8, chunk_size=2)
    assert r3["committed_chunks"] == []
    assert spark.read.parquet(f"{OUT}/data").count() == len(transcripts)


# Jobs the earlier commit path (salted extraction, then a stats collect
# and a second stats evaluation for the lineage append) ran for a full
# 8-bucket, 2-bucket-chunk run over ``corpus_df`` in the test session.
TWO_EXCHANGE_JOBS = 33


def test_one_exchange_per_chunk_and_fewer_jobs(spark, corpus_df, monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    df, transcripts, _ = corpus_df
    out = OUT + "_jobs"
    shutil.rmtree(out, ignore_errors=True)
    plans = []
    write = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        if path.endswith("/data"):
            plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    sc = spark.sparkContext
    sc.setJobGroup("lineage-job-count", "run_resumable")
    try:
        r = run_resumable(spark, df, out, ExtractConfig(), n_buckets=8, chunk_size=2)
        jobs = len(sc.statusTracker().getJobIdsForGroup("lineage-job-count"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(r["committed_chunks"]) == len(plans) == 4
    for plan in plans:
        exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert len(exchanges) == 1, plan
        assert "hashpartitioning(bucket#" in exchanges[0], plan
    assert 0 < jobs < TWO_EXCHANGE_JOBS
    assert spark.read.parquet(f"{out}/data").count() == len(transcripts)


def _commit_chunk_earlier_schema(spark, df, out: str, chunk: list[int], n_buckets: int):
    """Commit one chunk the way the earlier commit path wrote it: a
    salted extraction, and lineage rows from a Spark aggregation (its
    ``status``, ``run_id``, ``n_turns`` and ``wall_sec`` columns are
    non-nullable in the parquet footer)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    bucket = F.pmod(F.hash("conv_id"), F.lit(n_buckets))
    part = df.withColumn("bucket", bucket).filter(F.col("bucket").isin(chunk))
    (
        extract_turns(part, ExtractConfig())
        .withColumn("bucket", bucket)
        .repartition("bucket")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(f"{out}/data")
    )
    written = spark.read.parquet(f"{out}/data").filter(F.col("bucket").isin(chunk))
    (
        written.groupBy("bucket")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.col("doc_found").cast("long")).alias("n_docs"),
            F.sum(
                F.col("doc_found").cast("long") - F.col("parse_ok").cast("long")
            ).alias("n_parse_failures"),
            F.sum("n_elements").alias("n_elements"),
            F.sum("bytes_in").alias("bytes_in"),
        )
        .withColumn("status", F.lit("done"))
        .withColumn("run_id", F.lit("earlier"))
        .withColumn("wall_sec", F.lit(1.0))
        .withColumn("finished_at", F.current_timestamp())
        .select("bucket", "status", "run_id", *COUNTS, "wall_sec", "finished_at")
        .write.mode("append")
        .parquet(f"{out}/lineage")
    )


def test_resume_from_earlier_lineage_schema(spark, corpus_df):
    from pyspark.sql import functions as F

    df, transcripts, _ = corpus_df
    out = OUT + "_earlier"
    shutil.rmtree(out, ignore_errors=True)
    nonempty = sorted(
        r.b for r in df.select(F.pmod(F.hash("conv_id"), F.lit(8)).alias("b")).distinct().collect()
    )
    first = nonempty[:2]
    _commit_chunk_earlier_schema(spark, df, out, first, 8)
    assert completed_buckets(spark, out) == set(first)

    r = run_resumable(spark, df, out, ExtractConfig(), n_buckets=8, chunk_size=2)
    assert r["pending_before"] == [b for b in range(8) if b not in first]
    assert r["remaining"] == []
    assert completed_buckets(spark, out) == set(range(8))
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == len(transcripts)
    assert data.select("conv_id", "turn_idx").distinct().count() == len(transcripts)
    _assert_lineage_matches_data(spark, out, 8)


# Jobs a full 8-bucket, 2-bucket-chunk run over ``corpus_df`` started in
# the test session once each chunk became one write job (an adaptive
# plan runs its shuffle-map stage as a job of its own). The commit path
# before it ran 25: a Spark ``completed_buckets`` query, then per chunk
# the write, a read-back, a metrics collect and a lineage write.
ONE_WRITE_PER_CHUNK_JOBS = 8


def _jobs_in_group(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        result = fn()
        return result, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_observe_on_result_stage_and_one_job_per_chunk(spark, corpus_df, monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    df, transcripts, _ = corpus_df
    out = OUT + "_observe"
    shutil.rmtree(out, ignore_errors=True)
    plans = []
    write = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append((path, self._df._jdf.queryExecution().executedPlan().toString()))
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    sc = spark.sparkContext
    r, jobs = _jobs_in_group(
        sc, "lineage-observe",
        lambda: run_resumable(spark, df, out, ExtractConfig(), n_buckets=8, chunk_size=2),
    )
    # the data writes are the only Spark writes: the lineage is not one
    assert len(r["committed_chunks"]) == 4
    assert [p for p, _ in plans] == [f"{out}/data"] * 4
    for _, plan in plans:
        lines = plan.splitlines()
        exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
        assert len(exchanges) == 1, plan
        assert "hashpartitioning(bucket#" in lines[exchanges[0]], plan
        # CollectMetrics is an ancestor of the exchange: in the result stage
        observed = [i for i, ln in enumerate(lines) if "CollectMetrics" in ln]
        assert len(observed) == 1 and observed[0] < exchanges[0], plan
    assert 0 < jobs <= ONE_WRITE_PER_CHUNK_JOBS
    _assert_lineage_matches_data(spark, out, 8)

    # the lineage side is driver-only: neither reading nor appending it
    # starts a Spark job
    done, jobs = _jobs_in_group(sc, "lineage-read", lambda: completed_buckets(spark, out))
    assert done == set(range(8)) and jobs == 0
    # and read_lineage has its schema: no parquet schema inference job
    _, jobs = _jobs_in_group(sc, "lineage-df", lambda: read_lineage(spark, out))
    assert jobs == 0
    shutil.rmtree(out + "_append", ignore_errors=True)
    row = (0, "done", "append", 1, 0, 0, 0, 0, 0.0, None)
    _, jobs = _jobs_in_group(
        sc, "lineage-append",
        lambda: _append_lineage(spark, out + "_append", "part-append-0.parquet", [row]),
    )
    assert jobs == 0
    assert completed_buckets(spark, out + "_append") == {0}


def _visible_lineage_files(out: str) -> dict[str, bytes]:
    lineage = Path(out, "lineage")
    files = lineage.iterdir() if lineage.is_dir() else []
    return {f.name: f.read_bytes() for f in files if not f.name.startswith(("_", "."))}


def test_lineage_append_only_and_crash_safe(spark, corpus_df):
    import pyarrow as pa
    import pyarrow.parquet as pq

    df, transcripts, _ = corpus_df
    out = OUT + "_append_only"
    shutil.rmtree(out, ignore_errors=True)
    cfg = ExtractConfig()

    files = {}
    for i in range(4):
        r = run_resumable(spark, df, out, cfg, n_buckets=8, chunk_size=2, max_chunks=1)
        assert len(r["committed_chunks"]) == 1
        now = _visible_lineage_files(out)
        # one new visible file per committed chunk; earlier files untouched
        assert set(now) > set(files) and len(now) == len(files) + 1
        assert all(now[n] == body for n, body in files.items())
        files = now

        if i == 0:
            # what appends killed before their rename leave behind: a
            # complete hidden temporary file, and a truncated one, both
            # claiming every bucket that is not yet committed
            (name, body), = files.items()
            done = set(r["committed_chunks"][0])
            claims = [b for b in range(8) if b not in done]
            killed = (
                pq.read_table(f"{out}/lineage/{name}")
                .take([0] * len(claims))
                .set_column(0, "bucket", pa.array(claims, pa.int32()))
            )
            pq.write_table(killed, f"{out}/lineage/_tmp-part-killed-0.parquet")
            with open(f"{out}/lineage/_tmp-part-killed-1.parquet", "wb") as fh:
                fh.write(body[: len(body) // 2])
            assert completed_buckets(spark, out) == done
            assert sorted(read_lineage(spark, out).toPandas().bucket) == sorted(done)
            assert sorted(pq.read_table(f"{out}/lineage").column("bucket").to_pylist()) == sorted(done)

    assert completed_buckets(spark, out) == set(range(8))
    assert run_resumable(spark, df, out, cfg, n_buckets=8, chunk_size=2)["committed_chunks"] == []
    assert _visible_lineage_files(out) == files
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == len(transcripts)
    assert data.select("conv_id", "turn_idx").distinct().count() == len(transcripts)
    _assert_lineage_matches_data(spark, out, 8)


def _py4j_commands(fn) -> int:
    """The py4j commands ``fn`` sends to the JVM from this thread and
    from the threads it starts (``run_resumable``'s chunk threads).
    py4j's finalizer thread releases Java objects of earlier garbage
    (one command each) whenever the collector frees them; those are not
    counted."""
    import threading

    import py4j.clientserver as cs

    send, start = cs.ClientServerConnection.send_command, threading.Thread.start
    caller = threading.current_thread()
    started = set()
    n = 0

    def starting(self):
        if threading.current_thread() is caller:
            started.add(self)
        return start(self)

    def counting(self, command):
        nonlocal n
        thread = threading.current_thread()
        n += thread is caller or thread in started
        return send(self, command)

    cs.ClientServerConnection.send_command = counting
    threading.Thread.start = starting
    try:
        fn()
    finally:
        cs.ClientServerConnection.send_command = send
        threading.Thread.start = start
    assert started, "fn started no thread"
    return n


def test_driver_commands_per_chunk_do_not_grow_with_its_buckets(spark, corpus_df):
    """Building a chunk's plan costs the driver the same py4j round
    trips whatever the number of buckets in the chunk: one bucket
    filter and one observed aggregate, not one column per bucket."""
    df, _, _ = corpus_df
    out = OUT + "_py4j"
    counts = {}
    for chunk_size in (2, 8, 2, 8):  # the first run of each size warms up
        shutil.rmtree(out, ignore_errors=True)
        counts[chunk_size] = _py4j_commands(lambda: run_resumable(
            spark, df, out, ExtractConfig(), n_buckets=8, chunk_size=chunk_size,
            max_chunks=1))
        assert completed_buckets(spark, out) == set(range(chunk_size))
    assert counts[8] <= 1.2 * counts[2], counts


def test_one_chunk_of_64_buckets(spark, corpus_df):
    """One chunk of 64 buckets observes 320 sums in one expression; the
    lineage still reconciles with the data, zeros for empty buckets."""
    df, transcripts, _ = corpus_df
    out = OUT + "_64"
    shutil.rmtree(out, ignore_errors=True)
    r = run_resumable(spark, df, out, ExtractConfig(), n_buckets=64, chunk_size=64)
    assert r["committed_chunks"] == [list(range(64))] and r["remaining"] == []
    lin = read_lineage(spark, out).toPandas()
    assert lin.n_turns.sum() == len(transcripts) and lin.n_parse_failures.sum() == 1
    _assert_lineage_matches_data(spark, out, 64)


# How long a spy waits for the other chunk in flight. With the chunks
# run one after another the other chunk never comes, and the run fails.
IN_FLIGHT_WAIT_S = 30


def test_two_chunks_in_flight_commit_in_chunk_order(spark, corpus_df, monkeypatch):
    """The first data write is held until the second has started, and
    chunk 1's lineage append until chunk 2's has finished: both chunks
    are in flight at once, chunk 2 commits first, and
    ``committed_chunks`` still lists the chunks in order."""
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    import libpdf_spark.lineage as lineage

    df, transcripts, _ = corpus_df
    out = OUT + "_overlap"
    shutil.rmtree(out, ignore_errors=True)
    write, append = DataFrameWriter.parquet, lineage._append_lineage
    writes, lock = [], threading.Lock()
    second_write, second_appended = threading.Event(), threading.Event()

    def spy_write(self, path, *args, **kwargs):
        with lock:
            writes.append(path)
            first = len(writes) == 1
        if first:
            assert second_write.wait(IN_FLIGHT_WAIT_S), "no second write while the first waits"
        else:
            second_write.set()
        return write(self, path, *args, **kwargs)

    def spy_append(spark, output_dir, name, rows):
        if rows[0][0] == 0:
            assert second_appended.wait(IN_FLIGHT_WAIT_S), "chunk 2 did not commit first"
        append(spark, output_dir, name, rows)
        if rows[0][0] == 2:
            second_appended.set()

    monkeypatch.setattr(DataFrameWriter, "parquet", spy_write)
    monkeypatch.setattr(lineage, "_append_lineage", spy_append)
    r = run_resumable(spark, df, out, ExtractConfig(), n_buckets=8, chunk_size=2)
    assert r["committed_chunks"] == [[0, 1], [2, 3], [4, 5], [6, 7]]
    assert len(writes) == 4 and r["remaining"] == []
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == len(transcripts)
    assert data.select("conv_id", "turn_idx").distinct().count() == len(transcripts)
    _assert_lineage_matches_data(spark, out, 8)


def test_failed_chunk_stops_the_run_and_a_rerun_completes(spark, corpus_df, monkeypatch):
    """Chunk 2's lineage append raises while chunk 3 is in flight: the
    run raises that error once chunk 3 has committed, chunk 4 never
    starts, the committed buckets are whole chunks, and a rerun redoes
    chunk 2 and finishes with no duplicate turn."""
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    import libpdf_spark.lineage as lineage

    df, transcripts, _ = corpus_df
    out = OUT + "_fail"
    shutil.rmtree(out, ignore_errors=True)
    write, append = DataFrameWriter.parquet, lineage._append_lineage
    writes, lock, third_write = [], threading.Lock(), threading.Event()

    def spy_write(self, path, *args, **kwargs):
        with lock:
            writes.append(path)
            if len(writes) == 3:  # chunks 1, 2 and 3 have all started writing
                third_write.set()
        return write(self, path, *args, **kwargs)

    def failing_append(spark, output_dir, name, rows):
        if rows[0][0] == 2:
            assert third_write.wait(IN_FLIGHT_WAIT_S), "chunk 3 did not start"
            raise OSError("lineage append failed")
        append(spark, output_dir, name, rows)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy_write)
    monkeypatch.setattr(lineage, "_append_lineage", failing_append)
    with pytest.raises(OSError, match="lineage append failed"):
        run_resumable(spark, df, out, ExtractConfig(), n_buckets=8, chunk_size=2)
    assert len(writes) == 3  # chunk 4 never started
    assert completed_buckets(spark, out) == {0, 1, 4, 5}

    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    monkeypatch.setattr(lineage, "_append_lineage", append)
    r = run_resumable(spark, df, out, ExtractConfig(), n_buckets=8, chunk_size=2)
    assert r["committed_chunks"] == [[2, 3], [6, 7]]
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == len(transcripts)
    assert data.select("conv_id", "turn_idx").distinct().count() == len(transcripts)
    _assert_lineage_matches_data(spark, out, 8)
