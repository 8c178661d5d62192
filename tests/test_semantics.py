"""Semantic tests beyond oracle parity: streaming state semantics and the
MinHash-LSH recall contract (SURVEY.md §5.4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from billing_data_loader_spark.operators.llm_pipeline import (
    ext_neardup_jaccard,
    ext_neardup_minhash_lsh,
)
from billing_data_loader_spark.streaming.jobs import (
    stream_dedup_watermark,
    stream_watermark_late,
)
from billing_data_loader_spark.tables import load

from .conftest import SF_DIR


def test_watermark_drops_late_rows(spark):
    """Day-1 state is finalized/evicted before the replayed day-1 slice
    arrives; Spark guarantees rows for evicted state are dropped, so the
    replay must neither duplicate emitted windows nor inflate counts."""
    out = stream_watermark_late(spark, SF_DIR)
    out.createOrReplaceTempView("wm_out")
    spark_dups = out.sparkSession.sql(
        "SELECT window_start, event_type FROM wm_out "
        "GROUP BY window_start, event_type HAVING count(*) > 1"
    )
    assert spark_dups.count() == 0, "late replay duplicated emitted windows"
    ev = load(out.sparkSession, SF_DIR, "events")
    n_day1_events = ev.filter(F.dayofmonth("ts") == 1).count()
    day1_total = (
        out.filter(F.col("window_start") < F.lit("2024-01-02").cast("timestamp"))
        .agg(F.sum("n_events"))
        .collect()[0][0]
    )
    # counted once from the on-time batch; the late replay added nothing
    assert day1_total == n_day1_events


def test_stream_dedup_drops_replayed_file(spark):
    """The same export file fed twice must count once per event (the
    reference loader's idempotency guarantee, expressed as streaming state)."""
    out = stream_dedup_watermark(spark, SF_DIR).toPandas().set_index("event_type")
    expected = (
        load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
        .set_index("event_type")
    )
    assert out["n_events"].to_dict() == expected["n_events"].to_dict()


def test_minhash_lsh_finds_all_exact_neardups(spark):
    """LSH candidates after exact verification must contain every pair the
    quadratic all-pairs Jaccard finds (recall contract; precision is enforced
    by the shared >= 0.6 verification filter)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in ext_neardup_jaccard(spark, SF_DIR).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in ext_neardup_minhash_lsh(spark, SF_DIR).collect()
    }
    assert exact, "fixture must produce at least the synthesized exact dups"
    missing = exact - lsh
    # Distinguish the two possible causes before failing: banding recall is
    # probabilistic IN THE INPUT, so a regenerated fixture can legitimately
    # contain a borderline (J≈0.6) pair the 32x2 bands miss (~6e-7/pair) —
    # that calls for re-declaring the oracle, not debugging the operator.
    if missing:
        jac = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ext_neardup_jaccard(spark, SF_DIR).collect()
        }
        borderline = [p for p in missing if jac[p] < 0.65]
        if borderline and len(borderline) == len(missing):
            raise AssertionError(
                "LSH missed ONLY borderline (J<0.65) pairs "
                f"{sorted(missing)[:10]} — consistent with fixture "
                "regeneration producing pairs at the banding noise floor, "
                "NOT an operator regression. Re-evaluate the exact-oracle "
                "declaration for ext_neardup_minhash_lsh (see ADVICE r3)."
            )
    assert not missing, f"LSH missed exact near-dup pairs: {sorted(missing)[:10]}"


def test_jaccard_hashed_shingles_match_oracle_at_sf01(spark):
    """ext_neardup_jaccard carries shingle identity as xxhash64 longs while
    the SQL oracle joins the strings — parity at the larger sf0.1 vocabulary
    proves no hash collision silently merged distinct shingles (the sf0.01
    run is covered by test_oracle)."""
    from billing_data_loader_spark.oracle import check_query
    from billing_data_loader_spark.plans.catalog import catalog

    spec = catalog()["ext_neardup_jaccard"]
    ok, msg = check_query(
        spec.fn(spark, "/root/testdata/sf0.1"), spec.oracle, "/root/testdata/sf0.1"
    )
    assert ok, msg


def test_jaccard_caches_nothing(spark):
    """ext_neardup_jaccard runs without a cache, so AQE can size every
    stage: a cached intermediate pins its last shuffle at
    spark.sql.shuffle.partitions, because AQE never changes the output
    partitioning of a cached plan."""

    def pids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
        return {int(k) for k in jmap.keySet().toArray()}

    before = pids()
    df = ext_neardup_jaccard(spark, SF_DIR)
    df.toPandas()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "InMemoryTableScan" not in plan
    assert not (pids() - before)


def test_sink_idempotent_double_run(spark):
    """The idempotency contract SURVEY §5 promises: running the
    idempotent-overwrite load twice produces the identical table —
    dynamic partition overwrite replaces dirty partitions instead of
    appending (the reference's re-emitted-export semantics)."""
    from billing_data_loader_spark.sources.connectors import (
        sink_idempotent_overwrite,
    )

    first = sink_idempotent_overwrite(spark, SF_DIR).toPandas()
    second = sink_idempotent_overwrite(spark, SF_DIR).toPandas()
    key = sorted(first.columns)
    a = first[key].sort_values(key).reset_index(drop=True)
    b = second[key].sort_values(key).reset_index(drop=True)
    assert a.equals(b), "double-run changed the landed table"


def test_streaming_replay_equals_batch(spark):
    """Stream==batch equivalence, asserted directly (not only via the
    shared oracle): the availableNow file-source replay of the tumbling
    aggregation must produce exactly the batch query's rows."""
    from billing_data_loader_spark.streaming.jobs import (
        stream_availablenow_replay,
        stream_tumbling_1h,
    )

    batch = stream_tumbling_1h(spark, SF_DIR)
    stream = stream_availablenow_replay(spark, SF_DIR)
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0
