"""Bloom-filter file skipping (wave 100, sources/txlog.py — the
public Delta Lake / Iceberg bloom-index idea): per-file bloom sidecars
built at bulk-write time make eq/IN POINT LOOKUPS on high-cardinality
columns file-prunable where footer min/max stats cannot help (values
interleaved across files ⇒ every file's [min,max] spans the whole
range). The contract pinned here: pruning is NEVER wrong (a bloom can
only skip a file the value provably isn't in; reads always equal
read-everything-then-filter), the property carries across commits,
DML-rewritten files degrade gracefully to stats-only pruning, and
compaction rebuilds sidecars."""

from __future__ import annotations

import copy
import os

import pytest
from pyspark.sql import functions as F

from vector_knowledge_base_spark.sources.txlog import (
    _file_can_skip,
    _list_versions,
    _prune_files,
    _read_manifest,
    append_table,
    compact_files,
    create_table,
    delete_where,
    read_table,
)


def _mk(spark, tmp_path, n=4000, bloom=("k", "name")):
    """A table whose ids interleave across 4 files (round-robin
    repartition) — the exact layout min/max stats cannot prune."""
    tbl = str(tmp_path / "t")
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("name"),
        (F.col("id") % 7).alias("grp"),
    ).repartition(4)
    create_table(spark, tbl, df, bloom_filter_columns=list(bloom))
    return tbl


def test_point_lookup_prunes_where_stats_cannot(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    m = _read_manifest(tbl, 0)
    total = len(m["files"])
    assert total == 4
    assert m["bloom_cols"] == ["k", "name"]
    # every file carries a sidecar + the stats flag
    for e, st in m["stats"].items():
        assert st["bloom"] == ["k", "name"]
        assert os.path.exists(os.path.join(tbl, e) + ".bloom.json")
    # min/max stats alone keep EVERY file (interleaved ranges) ...
    stripped = copy.deepcopy(m)
    for st in stripped["stats"].values():
        st.pop("bloom", None)
    assert len(_prune_files(tbl, stripped, {"k": 1234})) == total
    # ... the bloom prunes to (almost always exactly) the owning file
    pruned = _prune_files(tbl, m, {"k": 1234})
    assert 1 <= len(pruned) < total
    got = read_table(spark, tbl, filters={"k": 1234}).collect()
    assert [(r["k"], r["name"]) for r in got] == [(1234, "s1234")]


def test_absent_value_prunes_everything(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    m = _read_manifest(tbl, 0)
    # 7 hashes at 10 bits/key: a false positive on ALL files is
    # ~1e-8 — assert strictly fewer files, typically zero
    assert len(_prune_files(tbl, m, {"k": 987_654_321})) < len(m["files"])
    assert read_table(spark, tbl, filters={"k": 987_654_321}).count() == 0


def test_string_and_in_list_filters(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    m = _read_manifest(tbl, 0)
    assert 1 <= len(_prune_files(tbl, m, {"name": "s77"})) < len(m["files"])
    assert read_table(spark, tbl, filters={"name": "s77"}).count() == 1
    # IN keeps the union of the candidates' files
    pruned = _prune_files(tbl, m, {"k": [5, 3999]})
    assert len(pruned) <= len(m["files"])
    assert read_table(spark, tbl, filters={"k": [5, 3999]}).count() == 2


def test_never_wrong_for_every_present_key_sample(spark, tmp_path):
    """The no-false-negative direction — the one that would corrupt
    answers: every sampled present key must survive pruning and read
    back exactly (bloom build hashed CAST(col AS STRING); probe hashes
    the same form driver-side)."""
    tbl = _mk(spark, tmp_path, n=997)
    for k in range(0, 997, 89):
        rows = read_table(spark, tbl, filters={"k": k}).collect()
        assert [(r["k"], r["name"]) for r in rows] == [(k, f"s{k}")]


def test_abstentions_never_skip(spark, tmp_path):
    """Range filters, floats, bools and None candidates ABSTAIN — the
    read stays correct via stats + residual predicate."""
    tbl = _mk(spark, tmp_path)
    m = _read_manifest(tbl, 0)
    # range filter: Mapping value — bloom not consulted
    assert read_table(spark, tbl, filters={"k": {"gte": 10, "lte": 12}}).count() == 3
    # float candidate abstains (Java vs Python string forms differ)
    assert len(_prune_files(tbl, m, {"k": 1234.0})) == len(m["files"])
    assert read_table(spark, tbl, filters={"k": [1234.0]}).count() == 1


def test_append_carries_property_and_builds_sidecars(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    more = spark.range(4000, 5000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("name"),
        (F.col("id") % 7).alias("grp"),
    ).repartition(2)
    append_table(spark, tbl, more)
    m = _read_manifest(tbl, 1)
    assert m["bloom_cols"] == ["k", "name"]
    flagged = [e for e, st in m["stats"].items() if st.get("bloom")]
    assert len(flagged) == len(m["files"]) == 6
    pruned = _prune_files(tbl, m, {"k": 4500})
    assert 1 <= len(pruned) < 6
    assert read_table(spark, tbl, filters={"k": 4500}).count() == 1


def test_dml_rewrite_degrades_gracefully_compaction_rebuilds(spark, tmp_path):
    """A CoW delete rewrites files WITHOUT sidecars (write amplification
    on the DML path would be wrong); lookups stay correct via the
    residual predicate, and the next compaction rebuilds blooms for
    the rewritten layout."""
    tbl = _mk(spark, tmp_path)
    delete_where(spark, tbl, F.col("k") == 1234)
    v = _list_versions(tbl)[-1]
    m = _read_manifest(tbl, v)
    assert read_table(spark, tbl, filters={"k": 1234}).count() == 0
    assert read_table(spark, tbl, filters={"k": 1233}).count() == 1
    compact_files(spark, tbl, target_files=3)
    m2 = _read_manifest(tbl, _list_versions(tbl)[-1])
    assert all(st.get("bloom") == ["k", "name"] for st in m2["stats"].values())
    pruned = _prune_files(tbl, m2, {"k": 1233})
    assert 1 <= len(pruned) < len(m2["files"]) == 3
    assert read_table(spark, tbl, filters={"k": 1233}).count() == 1
    assert read_table(spark, tbl, filters={"k": 1234}).count() == 0


def test_bloom_survives_column_rename(spark, tmp_path):
    """Column mapping: sidecars are keyed by PHYSICAL names; a renamed
    column's lookups (logical filter key) still bloom-prune because
    _prune_files translates filters to physical before probing."""
    from vector_knowledge_base_spark.sources.txlog import rename_column

    tbl = _mk(spark, tmp_path)
    rename_column(spark, tbl, "k", "key_id")
    m = _read_manifest(tbl, _list_versions(tbl)[-1])
    pruned = _prune_files(tbl, m, {"key_id": 1234})
    assert 1 <= len(pruned) < len(m["files"])
    got = read_table(spark, tbl, filters={"key_id": 1234}).collect()
    assert [(r["key_id"], r["name"]) for r in got] == [(1234, "s1234")]


def test_unknown_bloom_column_refused_at_create(spark, tmp_path):
    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="bloom_filter_columns"):
        create_table(
            spark, str(tmp_path / "x"), df, bloom_filter_columns=["nope"]
        )


def test_file_can_skip_unchanged_without_blooms(spark, tmp_path):
    """Tables created WITHOUT the property behave exactly as before —
    no sidecars, no flags, stats-only pruning."""
    tbl = str(tmp_path / "plain")
    create_table(
        spark,
        tbl,
        spark.range(100).select(F.col("id").alias("k")).repartition(2),
    )
    m = _read_manifest(tbl, 0)
    assert m.get("bloom_cols") is None
    assert all("bloom" not in st for st in m["stats"].values())
    assert len(_prune_files(tbl, m, {"k": 5})) == len(m["files"])
    assert not any(
        name.endswith(".bloom.json")
        for _r, _d, names in os.walk(tbl)
        for name in names
    )
    # and _file_can_skip still prunes on min/max when it CAN:
    st = {"rows": 1, "min": {"k": 0}, "max": {"k": 10}, "cols": ["k"]}
    assert _file_can_skip(st, {"k": 99}) is True


def test_add_bloom_index_retrofits_existing_table(spark, tmp_path):
    """add_bloom_index covers the WHOLE existing table at declaration
    (sidecars are additive — zero data files move), and the property
    carries so later appends index automatically."""
    from vector_knowledge_base_spark.sources.txlog import add_bloom_index

    tbl = str(tmp_path / "plain")
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("name"),
    ).repartition(4)
    create_table(spark, tbl, df)
    m0 = _read_manifest(tbl, 0)
    assert len(_prune_files(tbl, m0, {"k": 777})) == len(m0["files"])
    v = add_bloom_index(spark, tbl, ["k"])
    m1 = _read_manifest(tbl, v)
    # metadata-only: identical file list, now flagged + sidecar'd
    assert m1["files"] == m0["files"]
    assert m1["op"] == "add_bloom" and m1["bloom_cols"] == ["k"]
    assert all(st.get("bloom") == ["k"] for st in m1["stats"].values())
    assert 1 <= len(_prune_files(tbl, m1, {"k": 777})) < len(m1["files"])
    assert read_table(spark, tbl, filters={"k": 777}).count() == 1
    # carried property: the NEXT append builds sidecars by itself
    append_table(
        spark,
        tbl,
        spark.range(2000, 2500).select(
            F.col("id").alias("k"),
            F.concat(F.lit("s"), F.col("id")).alias("name"),
        ).repartition(2),
    )
    m2 = _read_manifest(tbl, v + 1)
    assert sum(1 for st in m2["stats"].values() if st.get("bloom")) == len(
        m2["files"]
    )
    assert read_table(spark, tbl, filters={"k": 2250}).count() == 1
    with pytest.raises(ValueError, match="not in the"):
        add_bloom_index(spark, tbl, ["missing_col"])


def test_bloom_on_partitioned_table_distinct_per_file(spark, tmp_path):
    """A partitioned write reuses the SAME part-file basename under
    every _pt_ dir — blooms must key files by dir+name or two files
    would merge into one filter. Pin: every file gets its own sidecar,
    lookups stay exact, and pvals + bloom pruning compose."""
    tbl = str(tmp_path / "pt")
    df = spark.range(0, 1200).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("part"),
    ).coalesce(1)
    create_table(
        spark, tbl, df, partition_by=["part"], bloom_filter_columns=["k"]
    )
    m = _read_manifest(tbl, 0)
    assert len(m["files"]) == 3  # one file per partition value
    sidecars = [
        e for e, st in m["stats"].items() if st.get("bloom") == ["k"]
    ]
    assert len(sidecars) == 3
    # each partition's bloom is DISTINCT: k=7 lives only in part=1
    pruned = _prune_files(tbl, m, {"k": 7})
    assert len(pruned) == 1 and "_pt_part=1" in pruned[0]
    for k in (7, 500, 1199):
        got = read_table(spark, tbl, filters={"k": k}).collect()
        assert [(r["k"], r["part"]) for r in got] == [(k, k % 3)]
    # composed: partition pval prune + bloom prune on the same read
    assert read_table(spark, tbl, filters={"k": 7, "part": 2}).count() == 0


def test_streaming_appends_build_blooms_automatically(spark, tmp_path):
    """Composition with the exactly-once streaming sink: a table
    created with bloom_filter_columns keeps indexing itself as a
    txsink stream appends micro-batches (the property carries through
    every commit), so point lookups on a stream-fed 100 TB table stay
    file-pruned with no operator action."""
    from vector_knowledge_base_spark.streaming.txsink import (
        txlog_foreach_batch,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    tbl = str(tmp_path / "tbl")
    base = spark.range(0, 500).select(F.col("id").alias("k")).repartition(2)
    create_table(spark, tbl, base, bloom_filter_columns=["k"])
    spark.range(500, 900).select(F.col("id").alias("k")).write.parquet(src)
    q = (
        spark.readStream.schema("k long")
        .parquet(src)
        .writeStream.foreachBatch(txlog_foreach_batch(tbl))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    v = _list_versions(tbl)[-1]
    m = _read_manifest(tbl, v)
    assert v >= 1 and m["bloom_cols"] == ["k"]
    assert all(st.get("bloom") == ["k"] for st in m["stats"].values())
    pruned = _prune_files(tbl, m, {"k": 777})
    assert 1 <= len(pruned) < len(m["files"])
    assert read_table(spark, tbl, filters={"k": 777}).count() == 1


def test_fsck_reports_missing_bloom_sidecar_as_warning(spark, tmp_path):
    """A deleted sidecar degrades pruning (the probe abstains) but
    never readability — fsck reports it in n_bloom_missing, readable
    stays True, and the lookup still answers correctly."""
    from vector_knowledge_base_spark.sources.txlog import fsck

    tbl = _mk(spark, tmp_path, n=400)
    m = _read_manifest(tbl, 0)
    victim = sorted(m["stats"])[0]
    os.remove(os.path.join(tbl, victim) + ".bloom.json")
    rep = {r["version"]: r for r in fsck(spark, tbl).collect()}
    assert rep[0]["n_bloom_missing"] == 1
    assert rep[0]["n_missing"] == 0 and rep[0]["readable"] is True
    # correctness unharmed: the victim file just can't bloom-skip
    assert read_table(spark, tbl, filters={"k": 123}).count() == 1


def test_table_detail_summarizes_from_log_alone(spark, tmp_path):
    from vector_knowledge_base_spark.sources.txlog import (
        add_constraint,
        table_detail,
    )

    tbl = _mk(spark, tmp_path, n=1000)
    add_constraint(spark, tbl, "k_nonneg", "k >= 0")
    append_table(
        spark,
        tbl,
        spark.range(1000, 1200).select(
            F.col("id").alias("k"),
            F.concat(F.lit("s"), F.col("id")).alias("name"),
            (F.col("id") % 7).alias("grp"),
        ).repartition(1),
    )
    d = table_detail(spark, tbl).first()
    assert d["version"] == 2 and d["n_versions"] == 3
    assert d["n_files"] == 5 and d["n_rows"] == 1200
    assert d["n_bytes"] > 0
    assert d["bloom_cols"] == ["k", "name"]
    assert d["constraints"] == ["k_nonneg"]
    assert d["partition_by"] is None
    assert d["n_dv_entries"] == 0 and d["n_schema_fields"] == 3
    assert d["last_commit_ts"] is not None


def test_bloom_on_multi_partition_column_table(spark, tmp_path):
    """REGRESSION (r11): with >=2 partition columns one write task
    reuses the SAME part-file basename under every partition dir, so
    …/_pt_a=1/_pt_b=0/part-0 and …/_pt_a=2/_pt_b=0/part-0 share their
    last two path segments. Keying blooms by anything short of the
    table-root-relative path merged such files' blooms (one absorbed
    all bits, the other got an ALL-ZERO sidecar whose every probe says
    'definitely absent') — filtered reads silently dropped real rows.
    Pin: every file has a distinct, correct sidecar and every point
    lookup over the full key range returns exactly its row."""
    tbl = str(tmp_path / "pt2")
    df = spark.range(0, 800).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("a"),
        ((F.col("id") / 2).cast("long") % 2).alias("b"),
    ).coalesce(1)
    create_table(
        spark, tbl, df, partition_by=["a", "b"], bloom_filter_columns=["k"]
    )
    m = _read_manifest(tbl, 0)
    assert len(m["files"]) == 4  # one file per (a, b) cell
    # the collision precondition really holds: basenames are shared
    # and even dir+basename (last two segments) is NOT unique
    twoseg = {"/".join(e.replace(os.sep, "/").split("/")[-2:])
              for e in m["files"]}
    assert len(twoseg) < 4
    assert all(st.get("bloom") == ["k"] for st in m["stats"].values())
    # every sidecar is non-degenerate: each file's OWN values probe as
    # maybe-present in its OWN bloom (an all-zero merged-away sidecar
    # fails instantly — that was the bug's signature), and every point
    # lookup keeps its true file and returns exactly its row (false
    # POSITIVES may keep an extra file — harmless; never 0 files)
    import json as _json

    from vector_knowledge_base_spark.sources.txlog import (
        _bloom_maybe_contains,
        _resolve,
    )

    for e, st in m["stats"].items():
        with open(_resolve(tbl, e) + ".bloom.json") as fh:
            info = _json.load(fh)["k"]
        assert _bloom_maybe_contains(info, str(st["min"]["k"]))
        assert _bloom_maybe_contains(info, str(st["max"]["k"]))
    for k in range(0, 800, 97):
        pruned = _prune_files(tbl, m, {"k": k})
        assert 1 <= len(pruned) < 4  # true file kept, real pruning done
        got = read_table(spark, tbl, filters={"k": k}).collect()
        assert [(r["k"], r["a"], r["b"]) for r in got] == [
            (k, k % 2, (k // 2) % 2)
        ]


def test_bloom_refused_on_nonintegral_nonstring_columns(spark, tmp_path):
    """CAST-to-string hashing does not round-trip floats between the
    JVM build ('5.0') and a Python int probe ('5') — a false 'absent'
    would WRONGLY prune. Such declarations are rejected up front, at
    create_table and at add_bloom_index alike."""
    from vector_knowledge_base_spark.sources.txlog import add_bloom_index

    df = spark.range(0, 10).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("score"),
        (F.col("id") % 2 == 0).alias("flag"),
    )
    with pytest.raises(ValueError, match="integral or string"):
        create_table(
            spark, str(tmp_path / "f1"), df, bloom_filter_columns=["score"]
        )
    with pytest.raises(ValueError, match="integral or string"):
        create_table(
            spark, str(tmp_path / "f2"), df, bloom_filter_columns=["flag"]
        )
    # integral + string columns remain declarable, and retrofitting a
    # float column onto an existing table is refused the same way
    tbl = str(tmp_path / "ok")
    create_table(spark, tbl, df, bloom_filter_columns=["k"])
    with pytest.raises(ValueError, match="integral or string"):
        add_bloom_index(spark, tbl, ["score"])


def test_all_null_column_file_abstains_never_zero_bloom(spark, tmp_path):
    """r11 defense-in-depth: a row-carrying file whose bloom column is
    entirely NULL gets NO sidecar entry for that column (probe
    abstains) rather than an all-zero bloom — the all-zero shape is
    the silent signature of a build/keying defect (every probe would
    say 'definitely absent' and wrongly prune), so the build refuses
    to produce it at all. Reads stay exact; the other column still
    prunes."""
    import json as _json

    from vector_knowledge_base_spark.sources.txlog import _resolve

    tbl = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.lit(None).cast("string").alias("name"),
    ).coalesce(1)
    create_table(spark, tbl, df, bloom_filter_columns=["k", "name"])
    m = _read_manifest(tbl, 0)
    [e] = m["files"]
    # k (non-null) is flagged; name (all-null) is absent from the flags
    assert m["stats"][e]["bloom"] == ["k"]
    side = _json.load(open(_resolve(tbl, e) + ".bloom.json"))
    assert "k" in side and "name" not in side
    # probing the null column abstains (file kept, read exact)
    assert read_table(spark, tbl, filters={"name": "x"}).count() == 0
    assert read_table(spark, tbl, filters={"k": 7}).count() == 1


def _sidecars(files):
    out = {}
    for f in files:
        side = f + ".bloom.json"
        if os.path.exists(side):
            with open(side) as fh:
                out[f] = fh.read()
            os.remove(side)
    return out


@pytest.mark.parametrize("partitioned", [False, True])
def test_multi_column_bloom_build_equals_per_column_builds(
    spark, tmp_path, partitioned
):
    """The bloom build makes one pass over all declared columns. Its
    sidecars and per-file ``bloom`` flags must equal those of building
    each column alone: string, long and int columns, an all-NULL column
    (never written as an all-zero bloom), on plain and partitioned
    tables."""
    import json as _json

    from vector_knowledge_base_spark.sources.txlog import (
        _attach_blooms,
        _manifest_files,
    )

    tbl = str(tmp_path / "t")
    df = spark.range(0, 900).select(
        F.concat(F.lit("s"), F.col("id")).alias("name"),
        (F.col("id") * 1_000_003).alias("big"),
        (F.col("id") % 97).cast("int").alias("small"),
        F.lit(None).cast("string").alias("nothing"),
        (F.col("id") % 3).alias("part"),
    ).repartition(3)
    create_table(spark, tbl, df, partition_by=["part"] if partitioned else None)
    m = _read_manifest(tbl, 0)
    files = _manifest_files(tbl, m)
    assert len(files) == (9 if partitioned else 3)  # 3 tasks x 3 parts
    cols = ["name", "big", "small", "nothing"]

    together = copy.deepcopy(m["stats"])
    _attach_blooms(spark, tbl, files, together, cols)
    multi = _sidecars(files)

    alone = {}
    flags = {e: [] for e in m["stats"]}
    for c in cols:
        st = copy.deepcopy(m["stats"])
        _attach_blooms(spark, tbl, files, st, [c])
        for f, text in _sidecars(files).items():
            alone.setdefault(f, {}).update(_json.loads(text))
        for e, s in st.items():
            flags[e] += s.get("bloom", [])

    assert set(multi) == set(files)
    for f in files:
        assert multi[f] == _json.dumps(alone[f])  # byte-identical sidecar
        assert list(_json.loads(multi[f])) == ["name", "big", "small"]
    for e in m["stats"]:
        assert together[e]["bloom"] == sorted(flags[e])
        assert "nothing" not in together[e]["bloom"]
