"""The watch path's driver regime: drip-sized micro-batches collected
and committed on the driver (engine._prepare_store_batch_local) must
land the state the Spark regime lands, fall back to the Spark regime
for everything outside its domain, and keep the per-batch Spark job
count at its budget. Also the driver-local changelog append."""

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from dat_archive_map_reduce_spark.engine import MapReduce
from dat_archive_map_reduce_spark.operators.map_reduce import entries_schema
from dat_archive_map_reduce_spark.plans.catalog import AppendOnlyLog
from dat_archive_map_reduce_spark.sources.files import (
    FILES_SCHEMA,
    changelog_from_rows,
    changelog_rows,
)
from dat_archive_map_reduce_spark.streaming import watch as W


def map_kv(content, meta, emit):
    obj = json.loads(content)
    emit(obj["k"], obj["v"])


def map_kv_b(content, meta, emit):
    obj = json.loads(content)
    emit(obj["k"], obj["v"])


def map_kv_c(content, meta, emit):
    obj = json.loads(content)
    emit(obj["k"], obj["v"])


def map_compound(content, meta, emit):
    obj = json.loads(content)
    emit([obj["k"], obj["v"]], {"w": obj["v"] * 0.5, "ok": obj["v"] > 0})


def map_tags(content, meta, emit):
    obj = json.loads(content)
    for tag in obj["tags"]:
        emit(tag, obj["n"])


def _row(origin, path, version, k=None, v=None, typ="put"):
    return {
        "origin": origin,
        "pathname": path,
        "version": version,
        "type": typ,
        "content": None if typ == "del" else json.dumps({"k": k, "v": v}),
    }


def _pairs(db, view):
    return sorted(
        (r["key_json"], r["value"])
        for r in db.reduced_df(view).select("key_json", "value").collect()
    )


def _twin(spark, path, define, rows_by_round):
    """A batch-indexed engine (general refold) fed the same rounds."""
    db = MapReduce(spark, path)
    define(db)
    for rows in rows_by_round:
        db.append_changes(rows)
        for o in sorted({r["origin"] for r in rows}):
            db.index(o)
    return db


class LocalSpy:
    """Records the view names of every store committed on the driver."""

    def __init__(self):
        self.stores: list = []

    def __enter__(self):
        self._orig = MapReduce._prepare_store_batch_local
        spy = self

        def wrapped(engine, vdefs, upd, token):
            out = spy._orig(engine, vdefs, upd, token)
            if out is not None:
                spy.stores.append(sorted(v.name for v in vdefs))
            return out

        MapReduce._prepare_store_batch_local = wrapped
        return self

    def __exit__(self, *exc):
        MapReduce._prepare_store_batch_local = self._orig

    def views(self) -> set:
        return {n for s in self.stores for n in s}


def test_delete_on_empty_counts_entries_not_sums(spark, tmp_path, watch_regime):
    """A count key is deleted when its last entry retracts; a sum key
    whose remaining entries sum to 0 stays (value 0.0) — the sidecar's
    live count, not the sum, decides. Both regimes, against a batch
    twin."""

    def define(db):
        db.define("c", path="/d/*.json", map=map_kv, reduce="count")
        db.define("s", path="/d/*.json", map=map_kv, reduce="sum", value_type="long")

    r1 = [
        _row("dat://a", "/d/0.json", 1, "x", 5),
        _row("dat://a", "/d/1.json", 1, "x", -5),
        _row("dat://b", "/d/2.json", 1, "y", 7),
    ]
    r2 = [
        _row("dat://b", "/d/2.json", 2, typ="del"),  # y: last entry gone
        _row("dat://a", "/d/3.json", 2, "x", 0),  # x: sum stays 0
    ]
    for regime in ("driver", "spark"):
        with watch_regime(regime):
            db = MapReduce(spark, str(tmp_path / regime / "wh"))
            define(db)
            for rows in (r1, r2):
                db.append_changes(rows)
                W.watch_until_caught_up(db)
            assert db.get("c", "y") is None and db.get("s", "y") is None
            assert db.get("c", "x") == {"key": "x", "value": 3}
            assert db.get("s", "x") == {"key": "x", "value": 0.0}
            cnt = {r["key_json"]: (r["cnt"], r["ssum"])
                   for r in db._reduced_cnt_table("s").read().collect()}
            assert cnt == {'"x"': (3, 0)}
            dbb = _twin(spark, str(tmp_path / regime / "twin"), define, [r1, r2])
            for view in ("c", "s"):
                assert _pairs(db, view) == _pairs(dbb, view)
            db.close()
            dbb.close()


def test_sum_text_matches_in_plan_cast(spark, tmp_path, watch_regime):
    """Reduced sum values are the text of Spark's cast(double as
    string): plain below 1e7, 'd.dddE<n>' from 1e7 on, exact to 2^53 —
    in both regimes; avg's non-integer values too."""
    big = 1 << 52
    sums = {"a": [9999999], "b": [10000000], "c": [big, big], "d": [-10000000],
            "e": [123456789, 1], "f": [1, 1, 1]}
    rows = [
        _row("dat://a", f"/d/{k}{i}.json", 1, k, v)
        for k, vs in sums.items() for i, v in enumerate(vs)
    ]
    want = {
        f'"{k}"': spark.range(1).select(
            F.lit(sum(vs)).cast("double").cast("string").alias("t")
        ).first()["t"]
        for k, vs in sums.items()
    }
    assert want['"b"'] == "1.0E7" and want['"a"'] == "9999999.0"
    assert want['"c"'] == "9.007199254740992E15"
    for regime in ("driver", "spark"):
        with watch_regime(regime):
            db = MapReduce(spark, str(tmp_path / regime))
            db.define("s", path="/d/*.json", map=map_kv, reduce="sum", value_type="long")
            db.define("a", path="/d/*.json", map=map_kv, reduce="avg", value_type="long")
            db.append_changes(rows)
            W.watch_until_caught_up(db)
            assert dict(_pairs(db, "s")) == want
            dbb = _twin(spark, str(tmp_path / regime / "twin"),
                        lambda d: d.define("a", path="/d/*.json", map=map_kv,
                                           reduce="avg", value_type="long"),
                        [rows])
            assert _pairs(db, "a") == _pairs(dbb, "a")
            db.close()
            dbb.close()
    db = MapReduce(spark, str(tmp_path / "fmt"))
    xs = [0.0, 1.0, -1.0, 999999.5, 1e7, 2.0 ** 53, -(2.0 ** 53), 2.0 ** 60,
          1 / 3, 2 / 3 * 1e9, 1e-4, 0.001, 12345.678]
    got = [db._double_text(x) for x in xs]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    cast = [r["t"] for r in df.orderBy("i").select(
        F.col("x").cast("string").alias("t")).collect()]
    assert got == cast


def test_driver_buckets_read_back_through_spark(spark, tmp_path):
    """Buckets written with pyarrow read back through Spark's
    entries_df / reduced_df with the declared key struct schema —
    compound (string, long) keys and object values included."""

    def define(db):
        db.define("m", path="/d/*.json", map=map_compound, key_schema=["string", "long"])
        db.define("c", path="/d/*.json", map=map_compound, key_schema=["string", "long"],
                  reduce="count")

    rows = [_row(f"dat://o{i % 2}", f"/d/{i}.json", 1, f"k{i % 3}", i - 2) for i in range(8)]
    with LocalSpy() as spy:
        db = MapReduce(spark, str(tmp_path / "wh"))
        define(db)
        db.append_changes(rows)
        W.watch_until_caught_up(db)
    assert spy.views() == {"m", "c"}
    ents = db.entries_df("m")
    # file reads come back all-nullable; names and types must match
    want = entries_schema(db._view("m").key_types()).simpleString()
    assert ents.schema.simpleString() == want
    assert want.startswith("struct<key:struct<k0:string,k1:bigint>")
    assert ents.count() == 8
    assert ents.filter(F.col("key.k1") == 3).select("key.k0").first()[0] == "k2"
    dbb = _twin(spark, str(tmp_path / "twin"), define, [rows])
    assert db.list("m") == dbb.list("m")
    assert db.list("c") == dbb.list("c")
    assert db.get("m", ["k0", 1]) == {"key": ["k0", 1], "value": [{"w": 0.5, "ok": True}]}
    db.close()
    dbb.close()


def test_ineligible_views_take_spark_path(spark, tmp_path):
    """Per store, in ONE batch: exact count/long-sum stores commit on
    the driver, every other fold (Python, min, collect, double sum)
    takes the Spark path — and every view lands the batch twin's
    state."""

    def define(db):
        db.define("c", path="/d/*.json", map=map_kv, reduce="count")
        db.define("s", path="/d/*.json", map=map_kv, reduce="sum", value_type="long")
        db.define("py", path="/d/*.json", map=map_kv_b,
                  reduce=lambda acc, v, k: (acc or 0) + v)
        db.define("mn", path="/d/*.json", map=map_kv_c, reduce="min")
        db.define("col", path="/e/*.json", map=map_kv, reduce="collect")
        db.define("dsum", path="/e/*.json", map=map_kv_b, reduce="sum")

    rounds = [
        [_row(f"dat://o{i % 2}", f"/{d}/{i}.json", 1, f"k{i % 3}", i)
         for i in range(6) for d in ("d", "e")],
        [_row("dat://o0", "/d/0.json", 2, "k9", 4), _row("dat://o1", "/e/1.json", 2, typ="del")],
    ]
    with LocalSpy() as spy:
        db = MapReduce(spark, str(tmp_path / "wh"))
        define(db)
        for rows in rounds:
            db.append_changes(rows)
            W.watch_until_caught_up(db)
    assert spy.views() == {"c", "s"}
    dbb = _twin(spark, str(tmp_path / "twin"), define, rounds)
    for view in ("c", "s", "py", "mn", "col", "dsum"):
        assert _pairs(db, view) == _pairs(dbb, view), view
    db.close()
    dbb.close()


def test_out_of_domain_batches_fall_back(spark, tmp_path, monkeypatch):
    """Batches over the row bound or the content byte cap, a map over
    its time budget, an unsynced sidecar, a flat legacy reduced
    snapshot and a rebucketed entries shard all take the Spark path; the next in-domain batch returns to
    the driver, and the state tracks a batch twin throughout."""
    from dat_archive_map_reduce_spark.operators.map_reduce import reduced_schema
    from dat_archive_map_reduce_spark.plans.catalog import VersionedTable

    def define(db):
        db.define("c", path="/d/*.json", map=map_kv, reduce="count")
        db.define("s", path="/d/*.json", map=map_kv, reduce="sum", value_type="long")

    db = MapReduce(spark, str(tmp_path / "wh"))
    define(db)
    dbb = MapReduce(spark, str(tmp_path / "twin"))
    define(dbb)
    version = [0]

    def step(n_files=2, origin="dat://a"):
        version[0] += 1
        rows = [_row(origin, f"/d/{i}.json", version[0], f"k{(i + version[0]) % 4}", i)
                for i in range(n_files)]
        for d in (db, dbb):
            d.append_changes(rows)
        with LocalSpy() as spy:
            W.watch_until_caught_up(db)
        dbb.index(origin)
        for view in ("c", "s"):
            assert _pairs(db, view) == _pairs(dbb, view), view
        return spy.views()

    assert step() == {"c", "s"}
    # over the row bound
    monkeypatch.setattr(MapReduce, "_LOCAL_BATCH_ROWS", 3)
    assert step(n_files=5) == set()
    monkeypatch.undo()
    # content over the batch byte cap
    monkeypatch.setattr(MapReduce, "_LOCAL_BATCH_BYTES", 10)
    assert step() == set()
    monkeypatch.undo()
    # files over the inline cap but under the byte cap: still the
    # driver, with the full rows from a second collect
    monkeypatch.setattr(MapReduce, "_LOCAL_INLINE_BYTES", 10)
    assert step() == {"c", "s"}
    monkeypatch.undo()
    # a map whose projected time is over the budget
    monkeypatch.setattr(MapReduce, "_LOCAL_MAP_PROBE_S", 0.0)
    monkeypatch.setattr(MapReduce, "_LOCAL_MAP_BUDGET_S", 0.0)
    assert step() == set()
    monkeypatch.undo()
    assert step() == {"c", "s"}
    # unsynced sidecar: the sum store refolds through Spark, realigns
    cnt = db._reduced_cnt_table("s")
    m = cnt.manifest_meta()
    cnt._set_current(cnt._current(), {**m, "batch_token": "stale"})
    assert step() == set()
    assert step() == {"c", "s"}
    # flat legacy reduced snapshot
    red = db._reduced_table("c")
    VersionedTable(spark, red.root, reduced_schema(db._view("c").key_types())).overwrite(
        red.read(), sort_cols=["key_json"])
    assert step() == set()
    assert step() == {"c", "s"}
    # a rebucketed entries shard (bucket count != the engine's)
    db.rebucket_entries(4, views=["c"], origins=["dat://a"])
    assert step() == set()
    assert step(origin="dat://b") == {"c", "s"}
    db.close()
    dbb.close()


def test_drip_batch_spark_job_budget(spark, tmp_path):
    """A drip-shaped batch — 8 changes on 2 origins (7 re-tags, 1
    delete) over a mapped, a count and a long-sum view on one map —
    becomes visible with at most JOB_BUDGET Spark jobs, counted by
    job-id difference from the append to indexes-updated on both
    origins. The budget is the driver regime's one collect per batch,
    twice: the two origins' changelog files may land in two triggers.
    A rise in the per-batch fixed cost fails here (the Spark regime
    takes ~40 jobs)."""
    JOB_BUDGET = 2
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("by_tag", path="/p/*.json", map=map_tags)
    db.define("tag_count", path="/p/*.json", map=map_tags, reduce="count")
    db.define("tag_sum", path="/p/*.json", map=map_tags, reduce="sum", value_type="long")

    def post(origin, i, version, tags, n):
        return {"origin": origin, "pathname": f"/p/{i}.json", "version": version,
                "content": json.dumps({"tags": tags, "n": n})}

    origins = ["dat://x", "dat://y"]
    db.append_changes([post(o, i, 1, [f"t{i}", f"t{i + 1}"], i)
                       for o in origins for i in range(4)])
    W.watch_until_caught_up(db)
    seen: dict = {}
    cv = threading.Condition()

    def on_updated(origin, version):
        with cv:
            seen[origin] = version
            cv.notify_all()

    db.on("indexes-updated", on_updated)
    q = db.watch_views(trigger={"processingTime": "100 milliseconds"})
    try:
        time.sleep(2)  # let the stream start before counting
        drip = [post(o, i, 2, [f"t{i + 5}"], 10 + i) for o in origins for i in range(4)]
        drip[-1] = {"origin": origins[1], "pathname": "/p/3.json", "version": 2, "type": "del"}
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        first = int(dag.numTotalJobs())
        db.append_changes(drip)
        with cv:
            assert cv.wait_for(lambda: all(seen.get(o) == 2 for o in origins), timeout=60)
        jobs = int(dag.numTotalJobs()) - first
    finally:
        q.stop()
    assert jobs <= JOB_BUDGET, f"{jobs} Spark jobs for one drip batch"
    assert db.get("tag_count", "t5") == {"key": "t5", "value": 2}
    assert db.get("tag_sum", "t7") == {"key": "t7", "value": 24.0}
    assert db.get("tag_count", "t8") == {"key": "t8", "value": 1}
    assert db.get("by_tag", "t3") is None
    db.close()


ODD_ORIGINS = ["dat://a:1/b", "dat://50%=off", "dat://with space", "plain"]


@pytest.mark.parametrize("hash_levels", [0, 1])
def test_driver_append_matches_spark_layout(spark, tmp_path, hash_levels):
    """append_rows names partition directories exactly as a Spark write
    does (origins with ':', '/', '%', '=' and a space), leaves no hidden
    temp file, and every per-origin reader finds the rows."""
    rows = [
        {"origin": o, "pathname": f"/f{i}.txt", "version": i + 1, "content": f"{o}-{i}"}
        for o in ODD_ORIGINS for i in range(2)
    ]
    drv = AppendOnlyLog(spark, str(tmp_path / "drv"), FILES_SCHEMA, ("origin",), hash_levels)
    ref = AppendOnlyLog(spark, str(tmp_path / "ref"), FILES_SCHEMA, ("origin",), hash_levels)
    drv.append_rows(changelog_rows(rows))
    ref.append(changelog_from_rows(spark, rows))

    def layout(root):
        out = set()
        for d, _dirs, files in os.walk(root):
            rel = os.path.relpath(d, root)
            if any(f.endswith(".parquet") for f in files):
                out.add(rel)
            assert not [f for f in files if f.startswith(".") and not f.endswith(".crc")]
        return out

    assert layout(drv.root) == layout(ref.root)
    key = lambda r: (r["origin"], r["pathname"])  # noqa: E731
    assert sorted(drv.read().collect(), key=key) == sorted(ref.read().collect(), key=key)
    for o in ODD_ORIGINS:
        assert drv.partition_dir(o) is not None
        got = drv.read_origin(o).collect()
        assert sorted(r["content"] for r in got) == [f"{o}-0", f"{o}-1"]
        drv.swap_origin_files(o, drv.read_origin(o).filter(F.col("version") == 2))
        assert [r["version"] for r in drv.read_origin(o).collect()] == [2]


def test_driver_append_flat_layout_and_checks(spark, tmp_path):
    """A legacy flat log (data files in its root) stays flat under
    append_rows; the FILES_SCHEMA non-null and type checks hold."""
    root = tmp_path / "flat"
    changelog_from_rows(spark, [_row("dat://a", "/0.json", 1, "k", 1)]).write.parquet(str(root))
    log = AppendOnlyLog(spark, str(root), FILES_SCHEMA, ("origin",))
    assert log.partition_by == ()
    log.append_rows(changelog_rows([_row("dat://b", "/1.json", 2, "k", 2)]))
    assert not [n for n in os.listdir(root) if n.startswith("origin=")]
    assert sorted(r["origin"] for r in log.read().collect()) == ["dat://a", "dat://b"]
    with pytest.raises(ValueError, match="origin"):
        changelog_rows([{"origin": None, "pathname": "/x", "url": "u", "version": 1}])
    with pytest.raises(TypeError, match="pathname"):
        changelog_rows([{"origin": "o", "pathname": 7, "url": "u", "version": 1}])
    with pytest.raises(ValueError, match="BIGINT"):
        changelog_rows([{"origin": "o", "pathname": "/x", "version": 1 << 63}])
