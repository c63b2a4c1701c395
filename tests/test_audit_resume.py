"""Checkpoint-resume tests: a partially-completed run resumes with only
the pending partitions; completed partitions are never re-processed."""

import functools
from collections import Counter

import pytest
from pyspark.sql import functions as F

from neontology_spark.audit import AuditStore, ValidationRun
from neontology_spark.checks import check_required, check_unique, column_stats
from neontology_spark.checks.base import CheckResult, partition_row_counts, shape_violations
from neontology_spark.images import NULL_FMT_ROWS, generate_images, image_model

N = 2_000
N_PARTS = 8


@pytest.fixture()
def setup(spark, tmp_path):
    images = generate_images(spark, n_rows=N, n_parts=N_PARTS)
    model = image_model()
    store = AuditStore(spark, str(tmp_path / "audit"))
    # uniqueness is a GLOBAL check: duplicate keys straddling a completed
    # and a pending partition must not be missed on resume
    run = ValidationRun(
        spark=spark,
        table=images,
        label="Image",
        part_col="part",
        checks=[functools.partial(check_required, model=model, part_col="part")],
        global_checks=[functools.partial(check_unique, model=model, part_col="part")],
        store=store,
        run_id="run_test_1",
        metrics_fn=lambda df: column_stats(df, columns=["w", "h", "fmt"], part_col="part"),
    )
    return images, store, run


def test_full_run_then_resume_noop(setup):
    images, store, run = setup
    v1 = run.run()
    assert v1.count() == 2 * N_PARTS  # two checks × 8 parts
    assert store.completed_parts("run_test_1", "Image") == set(range(N_PARTS))
    # resumed run: nothing pending
    v2 = run.run()
    assert v2.count() == 0
    # audit streams populated exactly once
    assert store.read("verdicts").count() == 2 * N_PARTS
    assert store.read("metrics").count() == 3 * N_PARTS
    lin = store.read("lineage")
    assert lin.count() == N_PARTS


def test_partial_completion_resumes_only_pending(setup):
    images, store, run = setup
    # simulate a crash: partitions 0-4 already completed in lineage
    store.mark_completed("run_test_1", "Image", [0, 1, 2, 3, 4])
    assert run.pending_parts() == {5, 6, 7}
    v = run.run()
    parts_processed = {r["part"] for r in v.collect()}
    # part 4 appears because the cross-partition dup group's completed-side
    # member is re-emitted (tagged late) — its failed verdict row revises
    # the completed part's earlier pass (ADVICE r2 fix)
    assert parts_processed == {4, 5, 6, 7}
    # violations recorded for pending partitions (null-fmt rows 21..23 live
    # in parts 5,6,7) plus the late completed-side dup member in part 4
    vio = store.read("violations")
    assert {r["part"] for r in vio.collect()} <= {4, 5, 6, 7}
    got_null_parts = {
        r["part"] for r in vio.filter(F.col("check") == "required_not_null").collect()
    }
    assert got_null_parts == {i % N_PARTS for i in NULL_FMT_ROWS}
    # CROSS-BOUNDARY duplicate: rows 12 (part 4, completed) and 13 (part 5,
    # pending) share an image_id. A pruned-scan uniqueness check would see
    # only the part-5 member (count 1 ⇒ no dup ⇒ silent false pass); the
    # global check scans the whole table and must report BOTH members: the
    # pending-side one normally, the completed-side one tagged late (its
    # pending partner did not exist when part 4 completed).
    dup_rows = vio.filter(F.col("check").startswith("unique")).collect()
    assert {r["part"] for r in dup_rows} == {4, 5}
    assert all(r["key"] == "img_000000000012" for r in dup_rows)
    late = [r for r in dup_rows if r["part"] == 4]
    assert len(late) == 1 and "[late" in late[0]["detail"]
    assert all("[late" not in r["detail"] for r in dup_rows if r["part"] == 5)
    # now fully complete
    assert run.pending_parts() == set()


def test_resume_false_reprocesses_everything(setup):
    images, store, run = setup
    run.run()
    v = run.run(resume=False)
    assert {r["part"] for r in v.collect()} == set(range(N_PARTS))


def test_partition_pruning_reaches_scan(spark, tmp_path, setup):
    """The pending-partition IN filter must push into the parquet scan."""
    images, store, run = setup
    path = str(tmp_path / "img.parquet")
    images.write.partitionBy("part").parquet(path)
    stored = spark.read.parquet(path)
    pruned = stored.filter(F.col("part").isin([5, 6, 7]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part" in plan

# ---------------------------------------------------------------------------
# compute-once: each check's violations are computed exactly once per run,
# and the verdicts ValidationRun builds from them equal CheckResult.verdicts
# ---------------------------------------------------------------------------

T_ROWS = 240
T_PARTS = 8  # contiguous: part = id // 30, one Spark partition per part
T_DONE = [0, 1, 2, 3]  # completed before a resume


def _table(spark):
    return spark.range(0, T_ROWS, 1, T_PARTS).select(
        "id",
        F.floor(F.col("id") / (T_ROWS // T_PARTS)).alias("part"),
        F.concat(F.lit("k"), (F.col("id") % 80).cast("string")).alias("key"),
    )


def _check(name, pred, acc=None, fail=False):
    """Check flagging rows where ``pred`` holds; the rows pass through a
    mapInArrow that counts them into ``acc`` (or raises when ``fail``)."""

    def kernel(batches):
        for b in batches:
            if fail:
                raise ValueError("check failed mid-run")
            if acc is not None:
                acc.add(b.num_rows)
            yield b

    def check(df):
        scanned = df.mapInArrow(kernel, schema=df.schema)
        flagged = scanned.filter(pred)
        return CheckResult(
            name, "T", shape_violations(flagged, name, "T", "part", key=F.col("key"))
        )

    return check


def _global_sentinel(df):
    """A table-level check: one part=NULL violation row."""
    row = df.agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 0)
    return CheckResult(
        "table_level", "T", shape_violations(row, "table_level", "T", detail="non-empty")
    )


def _reference(run, resume):
    """The lazy per-check form the verdicts must equal: CheckResult.verdicts
    over the pruned scan's row counts, each global result restricted to the
    pending parts plus its tagged late completed-side members."""
    parts = run.all_parts()
    completed = run.store.completed_parts(run.run_id, run.label) if resume else set()
    pending = sorted(parts - completed)
    scoped = run.table.filter(F.col(run.part_col).isin(pending))
    results = [check(scoped) for check in run.checks]
    for check in run.global_checks:
        res = check(run.table)
        pred = F.col("part").isNull() | F.col("part").isin(pending)
        v = res.violations.filter(pred)
        if parts & completed:
            keys = v.filter(F.col("key").isNotNull()).select("check", "key").dropDuplicates()
            late = (
                res.violations.filter(~pred)
                .join(keys, ["check", "key"], "left_semi")
                .withColumn(
                    "detail",
                    F.concat(
                        F.coalesce(F.col("detail"), F.lit("")),
                        F.lit(" [late: cross-partition member from completed part]"),
                    ),
                )
            )
            v = v.unionByName(late.select(*v.columns))
        results.append(CheckResult(res.check, res.label, v))
    counts = partition_row_counts(scoped, run.part_col)
    verdicts = functools.reduce(
        lambda a, b: a.unionByName(b), [r.verdicts(counts) for r in results]
    )
    violations = functools.reduce(
        lambda a, b: a.unionByName(b), [r.violations for r in results]
    )
    return Counter(map(tuple, verdicts.collect())), Counter(map(tuple, violations.collect()))


@pytest.mark.parametrize("resume", [False, True])
def test_each_check_computed_once(spark, tmp_path, resume):
    """After run() and a collect of the returned verdicts, a partition-local
    check has scanned the pending rows once and a global check the whole
    table once — no re-execution for the verdicts or the collect."""
    sc = spark.sparkContext
    local_acc, global_acc = sc.accumulator(0), sc.accumulator(0)
    store = AuditStore(spark, str(tmp_path / "audit"))
    run = ValidationRun(
        spark=spark,
        table=_table(spark),
        label="T",
        part_col="part",
        checks=[_check("local", F.col("id") % 9 == 0, local_acc)],
        global_checks=[_check("global", F.col("id") % 80 == 5, global_acc)],
        store=store,
        run_id="once",
    )
    if resume:
        store.mark_completed("once", "T", T_DONE)
    rows = run.run(resume=resume).collect()
    n_pending = T_ROWS // T_PARTS * (T_PARTS - len(T_DONE)) if resume else T_ROWS
    assert local_acc.value == n_pending
    assert global_acc.value == T_ROWS
    # the resume re-emits the late completed-side members of key k5
    late = [r for r in rows if r["n_rows"] is None]
    assert bool(late) == resume
    assert all(r["part"] in T_DONE and not r["passed"] for r in late)


def test_failing_check_leaves_no_lineage_and_no_cache(spark, tmp_path):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    store = AuditStore(spark, str(tmp_path / "audit"))
    run = ValidationRun(
        spark=spark,
        table=_table(spark),
        label="T",
        part_col="part",
        checks=[_check("ok", F.col("id") % 9 == 0), _check("boom", F.lit(True), fail=True)],
        global_checks=[_global_sentinel],
        store=store,
        run_id="crash",
    )
    with pytest.raises(Exception, match="check failed mid-run"):
        run.run()
    assert store.read("lineage") is None
    assert store.completed_parts("crash", "T") == set()
    assert set(jsc.getPersistentRDDs().keySet().toArray()) - before == set()


@pytest.mark.parametrize("resume", [False, True])
def test_verdicts_match_check_result_verdicts(spark, tmp_path, resume):
    """Edge cases: a check with zero violations, a global part=NULL row, a
    late member in a completed part (resume), two checks sharing a name,
    and pending parts whose Spark partitions are empty after pruning
    (resume) or where nothing violates (part 5 for the local checks)."""
    store = AuditStore(spark, str(tmp_path / "audit"))
    run = ValidationRun(
        spark=spark,
        table=_table(spark),
        label="T",
        part_col="part",
        checks=[
            _check("zero", F.lit(False)),
            _check("same_name", F.col("id").isin(3, 64, 125)),
            _check("same_name", F.col("id") % 45 == 1),
        ],
        global_checks=[
            _check("dup_key", (F.col("id") % 80 == 5) | (F.col("id") % 80 == 50)),
            _global_sentinel,
        ],
        store=store,
        run_id="parity",
    )
    if resume:
        store.mark_completed("parity", "T", T_DONE)
    want_verdicts, want_violations = _reference(run, resume)
    got = run.run(resume=resume).collect()
    assert Counter(map(tuple, got)) == want_verdicts
    stored = store.read("verdicts").drop("run_id").collect()
    assert Counter(map(tuple, stored)) == want_verdicts
    written = store.read("violations").drop("run_id").collect()
    assert Counter(map(tuple, written)) == want_violations
    # the cases are really there
    by_check = {}
    for r in got:
        by_check.setdefault(r["check"], []).append(r)
    assert all(r["n_violations"] == 0 for r in by_check["zero"])
    assert len(by_check["same_name"]) == 2 * len(by_check["zero"])
    assert [r["part"] for r in by_check["table_level"] if r["n_violations"]] == [None]
    assert {r["part"] for r in by_check["dup_key"] if r["n_rows"] is None} == (
        {0, 1, 2} if resume else set()
    )


def test_cross_run_incremental_distinct_sketches(spark, tmp_path):
    """Two runs persist sketches of their own batches; the cumulative
    estimate tracks distinct(union) without rescanning either batch."""
    from pyspark.sql import functions as F

    from neontology_spark.audit import (
        AuditStore,
        append_distinct_sketches,
        cumulative_distinct_estimates,
    )

    store = AuditStore(spark, str(tmp_path / "audit_sk"))
    assert cumulative_distinct_estimates(store) is None

    b1 = spark.range(0, 500).select(F.col("id").alias("k"))
    b2 = spark.range(250, 750).select(F.col("id").alias("k"))
    append_distinct_sketches(store, "r1", b1, ["k"])
    append_distinct_sketches(store, "r2", b2, ["k"])

    total = cumulative_distinct_estimates(store).first()
    assert abs(total["n_distinct"] - 750) / 750 < 0.05
    only_r1 = cumulative_distinct_estimates(store, run_ids=["r1"]).first()
    assert abs(only_r1["n_distinct"] - 500) / 500 < 0.05


def test_read_clean_filters_crash_replay_duplicates(spark, tmp_path):
    """A crash between the violations append and the lineage marker
    re-appends identical rows on resume; read_clean must collapse them
    while read() exposes the raw stream."""
    from neontology_spark.audit import AuditStore

    store = AuditStore(spark, str(tmp_path / "audit_crash"))
    vio = spark.createDataFrame(
        [("r1", "unique", 0, "img_7"), ("r1", "unique", 1, "img_9")],
        "run_id string, check string, part long, key string",
    )
    store.append("violations", vio)
    store.append("violations", vio)  # the replayed append after a crash
    assert store.read("violations").count() == 4
    clean = store.read_clean("violations")
    assert clean.count() == 2
    assert {r["key"] for r in clean.collect()} == {"img_7", "img_9"}
