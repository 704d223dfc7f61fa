"""A query run owns what its plans cache, stage and register: the scope
``registry.run()`` opens releases exactly that, when it ends, and runs
that share a SparkSession never free each other's inputs."""

import os
import sys
import threading

import pytest

from spark_sentiment_spark.plans import registry
from tests.conftest import SF_DIR
from tests.oracle_utils import compare, duck_connection


def test_run_releases_its_own_dirs_on_exit_and_on_error():
    """Leaving a run removes the dirs tracked in it and in no other
    scope; an inner run releases only its own; an exception still
    releases."""
    with pytest.raises(RuntimeError):
        with registry.run() as outer:
            a = registry.track_staging_dir("scope_outer_")
            with registry.run() as inner:
                b = registry.track_staging_dir("scope_inner_")
                assert inner.staged_dirs() == [b]
            assert not os.path.exists(b)
            assert os.path.isdir(a) and outer.staged_dirs() == [a]
            raise RuntimeError("query failed")
    assert not os.path.exists(a)


def test_runs_on_many_threads_release_only_their_own_dirs():
    """Eight threads, each staging in its own runs while the others
    release theirs, with a short switch interval: a run's dirs exist
    until it ends, and are gone after."""
    errors = []

    def work(i):
        try:
            for _ in range(20):
                with registry.run() as scope:
                    mine = [registry.track_staging_dir(f"scope_t{i}_")
                            for _ in range(3)]
                    assert scope.staged_dirs() == mine
                    assert all(map(os.path.isdir, mine))
                assert not any(map(os.path.exists, mine))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors


def test_tracking_outside_a_run_is_released_by_release_caches():
    """Outside any run, tracking lands in the process scope, which
    ``release_caches()`` releases (for callers of ``__spark_entry__``)."""
    d = registry.track_staging_dir("scope_process_")
    with registry.run():
        registry.release_caches()  # the run's scope, not the process's
        assert os.path.isdir(d)
    registry.release_caches()
    assert not os.path.exists(d)


def test_concurrent_runs_keep_each_others_inputs(spark):
    """Two catalog queries on one session, each in its own run on its own
    thread: the second builds, consumes and leaves its run while the
    first still holds a built, unconsumed ``join_bucketed`` (a staging
    dir and two catalog tables). The first one's result still matches
    its oracle, and both runs' staging dirs are gone once they end."""
    queries = registry.all_queries()
    built, second_done = threading.Event(), threading.Event()
    seen, errors = {}, []

    def first():
        try:
            with registry.run() as scope:
                df = queries["join_bucketed"](spark, SF_DIR)
                seen["first"] = scope.staged_dirs()
                built.set()
                assert second_done.wait(300), "second run never ended"
                seen["first_kept"] = all(map(os.path.isdir, seen["first"]))
                seen["oracle"] = compare(
                    df, duck_connection(SF_DIR),
                    registry.REGISTRY["join_bucketed"].sql, "join_bucketed")
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)
        finally:
            built.set()

    def second():
        try:
            assert built.wait(300), "first run never built"
            with registry.run() as scope:
                queries["io_partitioned_prune"](spark, SF_DIR).collect()
                seen["second"] = scope.staged_dirs()
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)
        finally:
            second_done.set()

    threads = [threading.Thread(target=first), threading.Thread(target=second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert seen["first"] and seen["second"]
    assert seen["first_kept"], "the second run removed the first's files"
    ok, msg = seen["oracle"]
    assert ok, msg
    assert not [d for d in seen["first"] + seen["second"]
                if os.path.exists(d)]
