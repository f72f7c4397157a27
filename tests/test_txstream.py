"""Streaming SOURCE over the txlog (sources/txstream.py): offsets are
log versions, partitions are the files a commit added, replay is
deterministic because manifests + data files are immutable.

Together with streaming/txsink.py (streams INTO the log) this closes
the exactly-once loop: txlog tables compose into multi-hop streaming
pipelines, which the reference (poll-the-collection listings,
backend/document_registry.py) cannot express at all."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from vector_knowledge_base_spark.sources.txlog import (
    append_table,
    compact_log,
    create_table,
    delete_where,
    read_table,
)
from vector_knowledge_base_spark.sources.txstream import (
    TxlogStreamReader,
    stream_txlog_table,
)


def _run_until(spark, q, table_name: str, target: int, timeout_s: int = 120):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if spark.table(table_name).count() >= target:
            return
        time.sleep(0.4)
    raise AssertionError(
        f"stream never reached {target} rows in {table_name} "
        f"(got {spark.table(table_name).count()})"
    )


def test_tail_live_appends(spark, tmp_path):
    """Initial snapshot + live tail: the stream delivers v0's full
    contents, then picks up an append committed WHILE running — every
    key exactly once (restart recovery is covered by the multi-hop
    test; the memory sink cannot recover from a checkpoint)."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    create_table(spark, src, spark.range(0, 20).withColumnRenamed("id", "k"))
    append_table(spark, src, spark.range(20, 35).withColumnRenamed("id", "k"))

    q = (
        stream_txlog_table(spark, src)
        .writeStream.format("memory")
        .queryName("txtail")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        _run_until(spark, q, "txtail", 35)
        append_table(spark, src, spark.range(35, 50).withColumnRenamed("id", "k"))
        _run_until(spark, q, "txtail", 50)
    finally:
        q.stop()
    got = {r["k"] for r in spark.table("txtail").collect()}
    assert got == set(range(50))
    assert spark.table("txtail").count() == 50  # no duplicates


def test_partitions_reject_nonappend_unless_ignore_changes(spark, tmp_path):
    """The append-only contract (Delta streaming-source semantics): a
    delete commit in the tailed range raises; ignore_changes=true
    re-emits the rewritten files instead."""
    src = str(tmp_path / "src")
    create_table(
        spark,
        src,
        spark.range(0, 30).withColumnRenamed("id", "k").coalesce(2),
    )
    delete_where(spark, src, F.col("k") < 5)  # v1: CoW rewrite
    cols = ["k"]
    r = TxlogStreamReader(src, cols, ignore_changes=False, start_version=0)
    with pytest.raises(ValueError, match="appends only"):
        r.partitions({"version": -1}, {"version": 1})
    # versions BEFORE the delete still plan fine
    assert len(r.partitions({"version": -1}, {"version": 0})) >= 1
    r2 = TxlogStreamReader(src, cols, ignore_changes=True, start_version=0)
    parts = r2.partitions({"version": 0}, {"version": 1})
    rows = [row for p in parts for row in r2.read(p)]
    # the rewritten survivor file re-emits its rows (k >= 5 only)
    assert rows and all(k >= 5 for (k,) in rows)


def test_schema_evolution_null_fills_through_stream(spark, tmp_path):
    """Files written before a merge_schema append physically lack the
    evolved column; the stream read null-fills them (same contract as
    the batch read path)."""
    src = str(tmp_path / "src")
    create_table(
        spark, src, spark.createDataFrame([(1, "a")], "k long, tag string")
    )
    append_table(
        spark,
        src,
        spark.createDataFrame([(2, "b", "en")], "k long, tag string, lang string"),
        merge_schema=True,
    )
    cols = ["k", "tag", "lang"]
    r = TxlogStreamReader(src, cols, ignore_changes=False, start_version=0)
    rows = sorted(
        row
        for p in r.partitions({"version": -1}, {"version": 1})
        for row in r.read(p)
    )
    assert rows == [(1, "a", None), (2, "b", "en")]


def test_vacuumed_version_gives_clear_error(spark, tmp_path):
    """A consumer whose checkpoint lags past the retention window gets
    the named retention error, not a stray FileNotFoundError."""
    src = str(tmp_path / "src")
    create_table(spark, src, spark.range(0, 5).withColumnRenamed("id", "k"))
    for i in range(1, 6):
        append_table(
            spark, src, spark.range(5 * i, 5 * (i + 1)).withColumnRenamed("id", "k")
        )
    compact_log(spark, src, keep_versions=2, orphan_grace_s=0.0)
    r = TxlogStreamReader(src, ["k"], ignore_changes=False, start_version=0)
    with pytest.raises(ValueError, match="vacuumed"):
        r.partitions({"version": 0}, {"version": 5})
    # the retained window still plans and reads
    parts = r.partitions({"version": 4}, {"version": 5})
    assert sorted(k for p in parts for (k,) in r.read(p)) == list(range(25, 30))


def _wait_rows(spark, table_path: str, target: int, deadline: float) -> None:
    while time.time() < deadline:
        try:
            if read_table(spark, table_path).count() >= target:
                return
        except RuntimeError:
            pass  # table not created yet
        time.sleep(0.4)
    raise AssertionError(f"{table_path} never reached {target} rows")


def test_multi_hop_txlog_to_txlog_exactly_once_with_restart(spark, tmp_path):
    """The closed loop: tail table A as a stream, land every micro-
    batch into table B through the exactly-once txlog sink — B
    converges to A's contents with no duplicates (bronze→silver), and
    a RESTART from the same checkpoint delivers only the commits made
    while the stream was down (offsets = versions survive recovery;
    the sink's batch_id idempotence absorbs any replayed batch)."""
    from vector_knowledge_base_spark.streaming.txsink import (
        txlog_foreach_batch,
    )

    a, b, ckpt = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "ck")
    create_table(spark, a, spark.range(0, 40).withColumnRenamed("id", "k"))
    q = (
        stream_txlog_table(spark, a)
        .writeStream.foreachBatch(txlog_foreach_batch(b))
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 150
    try:
        _wait_rows(spark, b, 40, deadline)
        append_table(spark, a, spark.range(40, 55).withColumnRenamed("id", "k"))
        _wait_rows(spark, b, 55, deadline)
    finally:
        q.stop()
    # commits made while the stream is DOWN, then a checkpoint restart
    append_table(spark, a, spark.range(55, 70).withColumnRenamed("id", "k"))
    q2 = (
        stream_txlog_table(spark, a)
        .writeStream.foreachBatch(txlog_foreach_batch(b))
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        _wait_rows(spark, b, 70, deadline)
        time.sleep(1.5)  # would-be duplicates need a beat to land
    finally:
        q2.stop()
    got = read_table(spark, b)
    assert got.count() == 70
    assert got.select("k").distinct().count() == 70
    assert {r["k"] for r in got.collect()} == set(range(70))


def test_read_yields_arrow_batches_and_null_fills(spark, tmp_path):
    """The executor read path hands Spark Arrow RecordBatches (zero
    per-row conversion), null-filling pre-evolution files to the
    logged schema's Arrow types — a silent regression to the row-tuple
    fallback would fail the isinstance check."""
    import json

    import pyarrow as pa

    src = str(tmp_path / "src")
    create_table(
        spark, src, spark.createDataFrame([(1, "a")], "k long, tag string")
    )
    append_table(
        spark,
        src,
        spark.createDataFrame(
            [(2, "b", "en")], "k long, tag string, lang string"
        ),
        merge_schema=True,
    )
    from vector_knowledge_base_spark.sources.txlog import table_schema

    schema_json = json.dumps(table_schema(src).jsonValue())
    r = TxlogStreamReader(
        src, ["k", "tag", "lang"], ignore_changes=False, start_version=0,
        schema_json=schema_json,
    )
    batches = [
        b
        for p in r.partitions({"version": -1}, {"version": 1})
        for b in r.read(p)
    ]
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    rows = sorted(
        tuple(row[c] for c in ("k", "tag", "lang"))
        for b in batches
        for row in b.to_pylist()
    )
    assert rows == [(1, "a", None), (2, "b", "en")]


def _planned_end_versions(ckpt: str) -> list[int]:
    """The end offset (txlog version) each planned micro-batch covered,
    parsed from the query's offset log (last line of each offset file
    is the source-0 offset JSON)."""
    import json
    import os

    odir = os.path.join(ckpt, "offsets")
    out = []
    for name in sorted(
        (n for n in os.listdir(odir) if n.isdigit()), key=int
    ):
        with open(os.path.join(odir, name)) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
        out.append(int(json.loads(lines[-1])["version"]))
    return out


def test_backlog_catchup_bounded_micro_batches(spark, tmp_path):
    """Admission control (VERDICT r6 #2): a fresh consumer facing a
    9-version backlog with max_versions_per_trigger=3 drains it in
    MULTIPLE micro-batches, each covering at most 3 versions — never
    the whole backlog as one batch (the 100 TB OOM cliff) — with
    exactly-once intact."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    create_table(spark, src, spark.range(0, 10).withColumnRenamed("id", "k"))
    for i in range(1, 9):  # versions 1..8 — a 9-version backlog
        append_table(
            spark,
            src,
            spark.range(10 * i, 10 * (i + 1)).withColumnRenamed("id", "k"),
        )
    q = (
        stream_txlog_table(spark, src, max_versions_per_trigger=3)
        .writeStream.format("memory")
        .queryName("txbacklog")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 150
    try:
        while time.time() < deadline:
            if spark.table("txbacklog").count() >= 90:
                break
            time.sleep(0.3)
    finally:
        q.stop()
    got = spark.table("txbacklog")
    assert got.count() == 90
    assert {r["k"] for r in got.collect()} == set(range(90))  # exactly once
    ends = _planned_end_versions(ckpt)
    # capped catch-up: -1→2→5→8 — at least 3 data batches, and no
    # single batch spans more than 3 versions
    covered = [b - a for a, b in zip([-1] + ends, ends)]
    assert sum(1 for c in covered if c > 0) >= 3, (ends, covered)
    assert max(covered) <= 3, (ends, covered)


def test_backlog_catchup_capped_across_restart(spark, tmp_path):
    """A STOPPED consumer misses 6 commits; the checkpoint restart
    catches up in capped micro-batches (the engine's re-plan of the
    committed batch restores the admission-control floor before the
    first latestOffset — no whole-backlog batch, no duplicates)."""
    from vector_knowledge_base_spark.streaming.txsink import (
        txlog_foreach_batch,
    )

    src, dst, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "dst"),
        str(tmp_path / "ck"),
    )
    create_table(spark, src, spark.range(0, 10).withColumnRenamed("id", "k"))

    def _run_until(target: int):
        q = (
            stream_txlog_table(spark, src, max_versions_per_trigger=2)
            .writeStream.foreachBatch(txlog_foreach_batch(dst))
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 150
        try:
            _wait_rows(spark, dst, target, deadline)
            time.sleep(1.0)  # let any would-be duplicate batch land
        finally:
            q.stop()

    _run_until(10)
    for i in range(1, 7):  # 6 commits while DOWN
        append_table(
            spark,
            src,
            spark.range(10 * i, 10 * (i + 1)).withColumnRenamed("id", "k"),
        )
    _run_until(70)
    got = read_table(spark, dst)
    assert got.count() == 70
    assert {r["k"] for r in got.collect()} == set(range(70))
    ends = _planned_end_versions(ckpt)
    assert ends == sorted(ends)  # offsets never regress
    covered = [b - a for a, b in zip([-1] + ends, ends)]
    assert max(covered) <= 2, (ends, covered)
    # the 6 missed versions took >= 3 capped batches after restart
    assert sum(1 for c in covered if c > 0) >= 4, (ends, covered)


def test_remove_only_commit_trips_append_guard(spark, tmp_path):
    """ADVICE r6: a delete that removes a whole file with NO rewritten
    survivors must still trip the append-only guard — otherwise
    downstream silently keeps deleted rows. With ignore_changes=true
    the removal is skipped (Delta's documented semantics)."""
    src = str(tmp_path / "src")
    create_table(
        spark, src, spark.range(0, 10).withColumnRenamed("id", "k").coalesce(1)
    )
    # v1 adds a second file wholly k>=10; v2 deletes it entirely —
    # every row matches, so the rewrite has no survivors: remove-only
    append_table(
        spark, src, spark.range(10, 20).withColumnRenamed("id", "k").coalesce(1)
    )
    delete_where(spark, src, F.col("k") >= 10)
    from vector_knowledge_base_spark.sources.txstream import _added_files

    m, added, removed = _added_files(src, 2)
    assert m["op"] == "delete_where" and added == [] and removed
    r = TxlogStreamReader(src, ["k"], ignore_changes=False, start_version=0)
    with pytest.raises(ValueError, match="changed the file set"):
        r.partitions({"version": 1}, {"version": 2})
    r2 = TxlogStreamReader(src, ["k"], ignore_changes=True, start_version=0)
    parts = r2.partitions({"version": 1}, {"version": 2})
    assert [row for p in parts for row in r2.read(p)] == []


def test_latest_offset_capped_and_monotone(spark, tmp_path):
    """Unit-level pin of the admission-control contract: latestOffset
    advances at most max_versions_per_trigger past the floor, the
    floor follows partitions()/commit() (the restart path), and the
    returned offset never regresses."""
    src = str(tmp_path / "src")
    create_table(spark, src, spark.range(0, 5).withColumnRenamed("id", "k"))
    for i in range(1, 10):  # versions 1..9
        append_table(
            spark, src, spark.range(5 * i, 5 * (i + 1)).withColumnRenamed("id", "k")
        )
    r = TxlogStreamReader(
        src, ["k"], ignore_changes=False, start_version=0,
        max_versions_per_trigger=4,
    )
    assert r.latestOffset() == {"version": 3}
    assert r.latestOffset() == {"version": 7}
    assert r.latestOffset() == {"version": 9}  # clamped at the log head
    assert r.latestOffset() == {"version": 9}
    # restart path: a fresh reader learns the floor from the engine's
    # re-plan of the committed batch, not from initialOffset
    r2 = TxlogStreamReader(
        src, ["k"], ignore_changes=False, start_version=0,
        max_versions_per_trigger=4,
    )
    r2.partitions({"version": 6}, {"version": 6})
    assert r2.latestOffset() == {"version": 9}  # 6+4 clamped to head
    r3 = TxlogStreamReader(
        src, ["k"], ignore_changes=False, start_version=0,
        max_versions_per_trigger=2,
    )
    r3.commit({"version": 5})
    assert r3.latestOffset() == {"version": 7}
    # uncapped reader keeps the old contract
    r4 = TxlogStreamReader(src, ["k"], ignore_changes=False, start_version=0)
    assert r4.latestOffset() == {"version": 9}


def test_partition_filter_prunes_at_planning_time(spark, tmp_path):
    """r7: a consumer of ONE partition schedules tasks for exactly its
    own files — non-matching added files are pruned from the plan via
    the manifest's recorded partition values (no task, no read), and a
    commit that only touches other partitions yields an empty batch."""
    from vector_knowledge_base_spark.sources.txlog import (
        append_table,
        create_table,
    )
    from vector_knowledge_base_spark.sources.txstream import (
        TxlogStreamReader,
    )

    src = str(tmp_path / "src")
    create_table(
        spark,
        src,
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 10), (None, 99)], "g string, k long"
        ),
        partition_by=["g"],
    )
    append_table(
        spark, src, spark.createDataFrame([("a", 3)], "g string, k long")
    )
    append_table(  # v2: only partition b — must plan to NOTHING
        spark, src, spark.createDataFrame([("b", 11)], "g string, k long")
    )
    import json

    from vector_knowledge_base_spark.sources.txlog import table_schema

    r = TxlogStreamReader(
        src,
        ["g", "k"],
        ignore_changes=False,
        start_version=0,
        schema_json=json.dumps(table_schema(src).jsonValue()),
        partition_filter=json.dumps({"g": "a"}),
    )
    def _rows(lo, hi):
        out = []
        for p in r.partitions({"version": lo}, {"version": hi}):
            for b in [r.read(p)]:
                out.extend(
                    t["k"] for rb in b for t in rb.to_pylist()
                ) if not isinstance(b, tuple) else None
        return sorted(out)

    assert _rows(-1, 0) == [1, 2]  # b and the NULL partition pruned
    assert _rows(0, 1) == [3]
    parts_v2 = [p for p in r.partitions({"version": 1}, {"version": 2}) if p.file]
    assert parts_v2 == []  # planning-time: zero tasks for partition b
    # IN-list filter and the full stream path
    q = (
        __import__(
            "vector_knowledge_base_spark.sources.txstream",
            fromlist=["stream_txlog_table"],
        ).stream_txlog_table(
            spark, src, partition_filter={"g": ["a", "b"]}
        )
        .writeStream.format("memory")
        .queryName("txpartfilter")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("txpartfilter").count() >= 6:
                break
            time.sleep(0.3)
    finally:
        q.stop()
    got = sorted(r["k"] for r in spark.table("txpartfilter").collect())
    assert got == [1, 2, 3, 10, 11]  # NULL partition excluded, a+b in


def test_consumer_id_persists_admission_floor(spark, tmp_path):
    """ADVICE r7 (low): with consumer_id set, the admission-control
    planning floor persists to a sidecar at every commit, so a
    restarted capped consumer recovers it WITHOUT relying on the
    engine re-planning the committed batch before its first
    latestOffset call (the empirically-pinned Spark 4.1 behavior the
    in-memory floor alone depends on)."""
    from vector_knowledge_base_spark.sources.txstream import (
        _consumer_file,
        _load_consumer_floor,
    )

    src = str(tmp_path / "src")
    create_table(spark, src, spark.range(0, 5).withColumnRenamed("id", "k"))
    for i in range(1, 10):  # versions 1..9
        append_table(
            spark,
            src,
            spark.range(5 * i, 5 * (i + 1)).withColumnRenamed("id", "k"),
        )
    r = TxlogStreamReader(
        src, ["k"], ignore_changes=False, start_version=0,
        max_versions_per_trigger=3, consumer_id="c1",
    )
    assert r.latestOffset() == {"version": 2}
    r.commit({"version": 2})
    assert _load_consumer_floor(src, "c1") == 2
    # fresh reader, NO partitions() re-plan, NO prior commit — the
    # sidecar ALONE restores the floor (the worst-case engine order)
    r2 = TxlogStreamReader(
        src, ["k"], ignore_changes=False, start_version=0,
        max_versions_per_trigger=3, consumer_id="c1",
    )
    assert r2.latestOffset() == {"version": 5}  # floor 2 + cap 3
    # a DIFFERENT consumer id starts from its own scratch floor
    r3 = TxlogStreamReader(
        src, ["k"], ignore_changes=False, start_version=0,
        max_versions_per_trigger=3, consumer_id="c2",
    )
    assert r3.latestOffset() == {"version": 2}
    # the sidecar is monotone: a lagging writer never lowers it
    r2.commit({"version": 5})
    r.commit({"version": 2})  # stale peer re-commit
    assert _load_consumer_floor(src, "c1") == 5
    # ids are charset-restricted — can never escape _consumers/
    with pytest.raises(ValueError, match="consumer_id"):
        _consumer_file(src, "../evil")
    # e2e: the helper wires the option through; the sidecar lands
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream_txlog_table(
            spark, src, max_versions_per_trigger=4, consumer_id="e2e"
        )
        .writeStream.format("memory")
        .queryName("txconsumer")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        _run_until(spark, q, "txconsumer", 50)
    finally:
        q.stop()
    assert spark.table("txconsumer").count() == 50
    assert (_load_consumer_floor(src, "e2e") or 0) >= 9


def test_caught_up_wait_falls_back_when_offsets_never_parse(monkeypatch):
    """The restart leg of ``txlog_stream_multihop`` waits for a committed
    batch's ``endOffset`` to reach the source's latest version. When
    the offset never parses, the wait hands over to the caller's
    manifest row-count wait after ``_OFFSET_PARSE_LIMIT`` consecutive
    failures instead of spinning to its deadline; a parseable offset
    in between resets the count. Spark-free: fake progress dicts."""
    from vector_knowledge_base_spark import queries

    monkeypatch.setattr(queries, "_OFFSET_POLL_S", 0.0)
    monkeypatch.setattr(queries, "_OFFSET_PARSE_LIMIT", 3)

    def progress(*offsets):
        it = iter(offsets)
        return lambda: {"sources": [{"endOffset": next(it)}]}

    assert queries._progress_end_version(None) is None
    assert queries._progress_end_version({"sources": []}) is None
    assert queries._progress_end_version(
        {"sources": [{"endOffset": "{'version': 4}"}]}
    ) == 4
    with pytest.raises(ValueError):
        queries._progress_end_version({"sources": [{"endOffset": "None"}]})

    fell_back = []

    def fallback(deadline):
        fell_back.append(deadline)
        return "rows"

    deadline = time.time() + 60
    never = progress(*["{bad"] * 3)
    assert queries._await_end_version(never, 5, deadline, fallback) == "rows"
    assert fell_back == [deadline]

    fell_back.clear()
    flaky = progress(
        "{bad", "None", "{'version': 2}", "{bad", "{}", "{'version': 5}"
    )
    assert queries._await_end_version(flaky, 5, deadline, fallback) is True
    assert fell_back == []

    stale = lambda: {"sources": [{"endOffset": "{'version': 1}"}]}  # noqa: E731
    assert queries._await_end_version(
        stale, 5, time.time() + 0.05, fallback
    ) is False
    assert fell_back == []
