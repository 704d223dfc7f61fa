"""Hand-built-corpus pins for the round-7 events additions: SCD2 history
(run collapse, interval close, current flag) and sweep-line peak
concurrency (overlap counting, inclusive boundaries, start-day
attribution). The sf fixtures exercise volume; these pin the boundary
semantics a synthetic stream can't make inspectable."""

from datetime import datetime

from pyspark.sql import functions as F


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, datetime(2024, 1, *r[0]), r[1], r[2], 0.0, "{}")
         for i, r in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string")


def _scd2(spark, df, tmp_path):
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries
    all_queries()
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    return REGISTRY["events_scd2_history"].fn(spark, str(tmp_path)).collect()


def test_scd2_collapses_runs_and_closes_intervals(spark, tmp_path):
    # user 1: A A B A  -> versions A, B, A (the repeat A is a NEW version,
    # not a merge with version 1 — type-2 history keeps re-transitions)
    rows = [((1, 10, 0), 1, "A"), ((1, 11, 0), 1, "A"),
            ((1, 12, 0), 1, "B"), ((1, 13, 0), 1, "A")]
    out = _scd2(spark, _events(spark, rows), tmp_path)
    assert [(r.state, r.version, r.is_current) for r in out] == [
        ("A", 1, 0), ("B", 2, 0), ("A", 3, 1)]
    assert out[0].valid_from == "2024-01-01 10:00:00"
    assert out[0].valid_to == "2024-01-01 12:00:00"   # closed by B
    assert out[1].valid_to == "2024-01-01 13:00:00"
    assert out[2].valid_to is None                    # open current row


def test_scd2_equal_ts_breaks_on_event_id(spark, tmp_path):
    # two observations at the SAME instant: event_id order decides the
    # run sequence deterministically (A then B -> two versions)
    rows = [((2, 9, 0), 7, "A"), ((2, 9, 0), 7, "B")]
    out = _scd2(spark, _events(spark, rows), tmp_path)
    assert [(r.state, r.version) for r in out] == [("A", 1), ("B", 2)]


def _peak(spark, df, tmp_path):
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries
    all_queries()
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    return {r.day: r.asDict()
            for r in REGISTRY["events_peak_concurrency"]
            .fn(spark, str(tmp_path)).collect()}


def test_peak_concurrency_counts_overlaps(spark, tmp_path):
    # three users on Jan 3: u1 session 08:00-10:00 (events 2h apart stay
    # one session only if gap <= 1h — use 30-min steps), u2 09:00-09:30,
    # u3 12:00 (single instant). Peak = 2 (u1 x u2 overlap at 09:00).
    rows = [((3, 8, 0), 1, "view"), ((3, 8, 30), 1, "view"),
            ((3, 9, 0), 1, "view"), ((3, 9, 30), 1, "view"),
            ((3, 10, 0), 1, "view"),
            ((3, 9, 0), 2, "click"), ((3, 9, 30), 2, "click"),
            ((3, 12, 0), 3, "view")]
    out = _peak(spark, _events(spark, rows), tmp_path)
    assert out["2024-01-03"]["peak_concurrent"] == 2
    assert out["2024-01-03"]["n_sessions"] == 3


def test_peak_concurrency_inclusive_boundary_and_instant_sessions(
        spark, tmp_path):
    # u1 ends exactly when u2 starts: inclusive intervals -> they overlap
    # (peak 2); a lone instant session still counts itself (peak >= 1).
    rows = [((4, 8, 0), 1, "view"), ((4, 9, 0), 1, "view"),
            ((4, 9, 0), 2, "click"), ((4, 10, 0), 2, "click"),
            ((5, 8, 0), 9, "view")]
    out = _peak(spark, _events(spark, rows), tmp_path)
    assert out["2024-01-04"]["peak_concurrent"] == 2
    assert out["2024-01-05"]["peak_concurrent"] == 1
    assert out["2024-01-05"]["n_sessions"] == 1


def test_temporal_join_change_instant_sees_new_version(spark, tmp_path):
    """events_temporal_join boundary: a fact at EXACTLY a change's
    timestamp belongs to the NEW version (half-open [valid_from,
    valid_to)), matching the SCD2 builder's convention. User 6: A@10,
    A@11, B@12 — the B event at the change instant must report state B,
    so the rollup is {(A,A):2, (B,B):1}; a closed-interval bug would
    yield (A,B):1 instead."""
    rows = [((6, 10, 0), 1, "A"), ((6, 11, 0), 1, "A"),
            ((6, 12, 0), 1, "B")]
    df = _events(spark, rows)
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries
    all_queries()
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {(r.state, r.event_type): r.n_events
           for r in REGISTRY["events_temporal_join"]
           .fn(spark, str(tmp_path)).collect()}
    assert out == {("A", "A"): 2, ("B", "B"): 1}


def _oracle_ok(spark, tmp_path, name, table="events"):
    """Run a registered query on the constructed corpus in tmp_path and
    compare it against its own DuckDB oracle SQL."""
    import duckdb

    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries
    from tests.oracle_utils import compare

    all_queries()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{tmp_path}/{table}.parquet/*.parquet')")
    q = REGISTRY[name]
    return compare(q.fn(spark, str(tmp_path)), con, q.sql, name)


def test_lifecycle_same_week_multi_event_user_ties(spark, tmp_path):
    """Round-8 self-audit pattern (a) pin: the lifecycle lag window
    orders by `wk`, which is unique per user only AFTER the DISTINCT
    weekly collapse — the safety claim rests on that derived table, so
    construct the tie shape it must collapse: user 1 has THREE events
    inside one ISO week (would be duplicate (user, wk) rows without the
    DISTINCT, making lag(wk) nondeterministic), then a retained week,
    then a resurrected week after a gap; user 2 has two same-week
    events in their first week. Pin the exact class counts AND the
    cross-engine hash agreement on this corpus."""
    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    # ISO Mondays in Jan 2024: 1st, 8th, 15th, 22nd.
    rows = [((2, 9, 0), 1, "view"), ((3, 9, 0), 1, "view"),
            ((5, 9, 0), 1, "view"),                       # u1 week Jan-01 x3
            ((9, 9, 0), 1, "view"),                       # u1 week Jan-08
            ((23, 9, 0), 1, "view"),                      # u1 week Jan-22
            ((9, 9, 0), 2, "click"), ((10, 9, 0), 2, "click")]  # u2 wk Jan-08
    _events(spark, rows).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet")
    out = {r.week_start: (r.n_active, r.n_new, r.n_retained, r.n_resurrected)
           for r in REGISTRY["events_user_lifecycle"]
           .fn(spark, str(tmp_path)).collect()}
    assert out == {"2024-01-01": (1, 1, 0, 0),
                   "2024-01-08": (2, 1, 1, 0),
                   "2024-01-22": (1, 0, 0, 1)}
    ok, msg = _oracle_ok(spark, tmp_path, "events_user_lifecycle")
    assert ok, msg


def test_rfm_full_metric_tie_splits_by_user_id(spark, tmp_path):
    """Round-8 self-audit pattern (a) pin: the RFM ntiles order by
    (metric, user_id) where user_id is unique only because per_user is
    one-row-per-user — and when every METRIC ties, the trailing user_id
    is the ONLY thing separating quintiles. Three users with byte-equal
    (r_days, f_events, m_e4) must land in tiles 1/2/3 by user_id in
    BOTH engines."""
    from datetime import datetime

    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    rows = [(i * 2 + j, datetime(2024, 1, 10 + 2 * j, 9, 0), u, "view",
             1.5, "{}")
            for i, u in enumerate((1, 2, 3)) for j in (0, 1)]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r.user_id: (r.r_days, r.f_events, r.m_e4,
                       r.r_score, r.f_score, r.m_score)
           for r in REGISTRY["events_rfm_scores"]
           .fn(spark, str(tmp_path)).collect()}
    assert out == {1: (0, 2, 30000, 1, 1, 1),
                   2: (0, 2, 30000, 2, 2, 2),
                   3: (0, 2, 30000, 3, 3, 3)}
    ok, msg = _oracle_ok(spark, tmp_path, "events_rfm_scores")
    assert ok, msg


def test_sessionize_equal_ts_first_rows_agree_with_oracle(spark, tmp_path):
    """Round-8 self-audit pin: a user whose FIRST two events share one ts
    is exactly the shape where a ts-only running-sum tiebreak could shift
    n_sessions by one between engines (the 0-flag tie ordered before the
    1-flag first row yields prefix sums {0,1,2}). Both windows now order
    by (ts, event_id) in Spark AND the oracle; pin the value and the
    cross-engine agreement on the constructed tie."""
    import duckdb

    from spark_sentiment_spark.plans.registry import REGISTRY, all_queries
    from tests.oracle_utils import compare

    all_queries()
    rows = [((5, 9, 0), 4, "view"), ((5, 9, 0), 4, "view"),
            ((5, 12, 0), 4, "view")]
    df = _events(spark, rows)
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    q = REGISTRY["events_sessionize"]
    out = q.fn(spark, str(tmp_path)).collect()
    assert [(r.user_id, r.n_sessions, r.n_events) for r in out] == [(4, 2, 3)]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path}/events.parquet/*.parquet')")
    ok, msg = compare(q.fn(spark, str(tmp_path)), con, q.sql)
    assert ok, msg


def _scd2_merged_at_cutoff(ev):
    """`scd2_merge` of the events at or after 70% of the corpus time span
    into the `scd2_dim` built from the events before it, formatted like
    `events_scd2_history` — the nightly incremental form of the build."""
    from spark_sentiment_spark.operators.scd2 import (scd2_dim,
                                                      scd2_formatted,
                                                      scd2_merge)

    lo, hi = ev.agg(F.min(F.unix_millis("ts")),
                    F.max(F.unix_millis("ts"))).first()
    cutoff = F.timestamp_millis(F.lit(lo + (hi - lo) * 7 // 10))
    return scd2_formatted(scd2_merge(scd2_dim(ev.where(F.col("ts") < cutoff)),
                                     ev.where(F.col("ts") >= cutoff)))


def test_scd2_merge_delta_boundary_semantics(spark, tmp_path):
    """`scd2_merge` on a corpus built around its 70%-of-span cutoff
    (06:18 here): a delta observation equal to the open row's state
    appends NOTHING (the run continues across the boundary), a genuine
    delta change closes the open row at ITS ts and numbers onward from
    the open version, a delta-only user starts at version 1, and an
    untouched history user's open row passes through. Plus the
    full-rebuild oracle (`SCD2_SQL`) equivalence on the same corpus and
    on the sf fixture."""
    import duckdb

    from spark_sentiment_spark.operators.scd2 import SCD2_SQL
    from spark_sentiment_spark.plans.registry import load
    from tests.conftest import SF_DIR
    from tests.oracle_utils import compare, duck_connection

    rows = [((1, 0, 0), 1, "A"), ((1, 2, 0), 1, "B"),   # u1 history
            ((1, 8, 0), 1, "B"),                        # u1 delta: run cont.
            ((1, 9, 0), 1, "C"),                        # u1 delta: change
            ((1, 8, 30), 2, "X"),                       # u2 delta-only
            ((1, 1, 0), 3, "A")]                        # u3 history-only
    _events(spark, rows).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet")
    merged = _scd2_merged_at_cutoff(
        spark.read.parquet(f"{tmp_path}/events.parquet"))
    out = [(r.user_id, r.state, r.version, r.valid_to, r.is_current)
           for r in merged.collect()]
    assert out == [
        (1, "A", 1, "2024-01-01 02:00:00", 0),
        (1, "B", 2, "2024-01-01 09:00:00", 0),
        (1, "C", 3, None, 1),
        (2, "X", 1, None, 1),
        (3, "A", 1, None, 1)]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path}/events.parquet/*.parquet')")
    ok, msg = compare(merged, con, SCD2_SQL, "scd2_merge")
    assert ok, msg

    ok, msg = compare(_scd2_merged_at_cutoff(load(spark, SF_DIR, "events")),
                      duck_connection(SF_DIR), SCD2_SQL, "scd2_merge")
    assert ok, msg
