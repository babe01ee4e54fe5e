"""Idempotence + winner-determinism properties for the upsert operators
(the reference's correctness contract, README.md:37 / pipeline.py:137-142)."""

from pyspark.sql import Row

from nl_railtraffic_etl_pipeline_spark.operators.upsert import (
    dedup_batch,
    insert_ignore,
    upsert_latest_wins,
)


def _df(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def test_insert_ignore_keeps_existing(spark):
    existing = _df(spark, [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    batch = _df(spark, [{"k": "b", "v": 99}, {"k": "c", "v": 3}])
    out = insert_ignore(existing, batch, ["k"]).orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [("a", 1), ("b", 2), ("c", 3)]


def test_insert_ignore_idempotent(spark):
    existing = _df(spark, [{"k": "a", "v": 1}])
    batch = _df(spark, [{"k": "b", "v": 2}])
    once = insert_ignore(existing, batch, ["k"])
    twice = insert_ignore(once, batch, ["k"])
    assert sorted(twice.collect()) == sorted(once.collect())


def test_upsert_latest_wins_replaces(spark):
    existing = _df(spark, [{"k": "a", "v": 1, "ts": 1}, {"k": "b", "v": 2, "ts": 1}])
    batch = _df(spark, [{"k": "b", "v": 99, "ts": 2}, {"k": "c", "v": 3, "ts": 2}])
    out = upsert_latest_wins(existing, batch, ["k"], "ts").orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [("a", 1), ("b", 99), ("c", 3)]


def test_upsert_idempotent(spark):
    existing = _df(spark, [{"k": "a", "v": 1, "ts": 1}])
    batch = _df(spark, [{"k": "a", "v": 5, "ts": 2}, {"k": "b", "v": 2, "ts": 2}])
    once = upsert_latest_wins(existing, batch, ["k"], "ts")
    twice = upsert_latest_wins(once, batch, ["k"], "ts")
    assert sorted(once.collect()) == sorted(twice.collect())


def test_dedup_batch_deterministic_winner(spark):
    batch = _df(
        spark,
        [
            {"k": "a", "v": 1, "ts": 1},
            {"k": "a", "v": 2, "ts": 3},
            {"k": "a", "v": 3, "ts": 2},
        ],
    )
    out = dedup_batch(batch, ["k"], "ts").collect()
    assert len(out) == 1 and out[0].v == 2  # max ts wins


def test_asof_join_semantics(spark):
    """Backward as-of: equal stamps match (<=), later rights don't, misses
    are NULL, tolerance nulls out stale matches."""
    import datetime as dt

    from operator_families.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(1, t(0)), (1, t(10)), (1, t(30)), (2, t(5))],
        "k bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t(0), "a"), (1, t(10), "b"), (1, t(20), "c")],
        "k bigint, ts timestamp, tag string",
    )
    out = {
        (r.k, r.ts): (r.tag, r._asof_ts)
        for r in asof_join(left, right, on=["k"]).collect()
    }
    assert out[(1, t(0))] == ("a", t(0))     # equal stamp matches
    assert out[(1, t(10))] == ("b", t(10))   # latest at-or-before
    assert out[(1, t(30))] == ("c", t(20))
    assert out[(2, t(5))] == (None, None)    # key never seen on right

    tol = {
        (r.k, r.ts): r.tag
        for r in asof_join(
            left, right, on=["k"], tolerance_seconds=300
        ).collect()
    }
    assert tol[(1, t(30))] is None           # 10 min > 5 min tolerance
    assert tol[(1, t(10))] == "b"


def test_asof_join_ignores_null_right_ts(spark):
    """A right row with NULL ts casts to NULL _ord and would sort FIRST in
    the window — its payload must never become the as-of match (ASOF on
    right_ts <= left_ts cannot match a NULL stamp)."""
    import datetime as dt

    from operator_families.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 10, m)
    left = spark.createDataFrame([(1, t(5))], "k bigint, ts timestamp")
    right = spark.createDataFrame(
        [(1, None, "ghost"), (1, t(0), "real")],
        "k bigint, ts timestamp, tag string",
    )
    out = asof_join(left, right, on=["k"]).collect()
    assert len(out) == 1 and out[0].tag == "real"

    # ...and a key whose ONLY right row has a NULL stamp is a miss, not a
    # ghost match.
    only_null = spark.createDataFrame(
        [(1, None, "ghost")], "k bigint, ts timestamp, tag string"
    )
    out2 = asof_join(left, only_null, on=["k"]).collect()
    assert len(out2) == 1 and out2[0].tag is None


def test_asof_join_directions(spark):
    """Forward takes the earliest at-or-after; nearest takes the closer
    side with exact ties resolving BACKWARD (pandas merge_asof rule);
    tolerance bounds the ABSOLUTE distance in every direction."""
    import datetime as dt

    from operator_families.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 10, m)
    # rights at minute 0 and 20; lefts probe before/between/on/after
    left = spark.createDataFrame(
        [(1, t(5)), (1, t(12)), (1, t(20)), (1, t(40)), (2, t(1))],
        "k bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t(0), "early"), (1, t(20), "late")],
        "k bigint, ts timestamp, tag string",
    )

    def got(**kw):
        return {
            (r.k, r.ts): r.tag
            for r in asof_join(left, right, on=["k"], **kw).collect()
        }

    fwd = got(direction="forward")
    assert fwd[(1, t(5))] == "late"      # earliest at-or-after
    assert fwd[(1, t(20))] == "late"     # coincident row matches (>=)
    assert fwd[(1, t(40))] is None       # nothing after
    assert fwd[(2, t(1))] is None        # keyless

    near = got(direction="nearest")
    assert near[(1, t(5))] == "early"    # 5 min back vs 15 forward
    assert near[(1, t(12))] == "late"    # 12 back vs 8 forward
    assert near[(1, t(20))] == "late"    # exact hit
    assert near[(1, t(40))] == "late"    # only backward exists
    assert near[(2, t(1))] is None

    # minute 10 is EXACTLY between the two -> tie -> backward
    mid = spark.createDataFrame([(1, t(10))], "k bigint, ts timestamp")
    tie = asof_join(mid, right, on=["k"], direction="nearest").collect()
    assert tie[0].tag == "early"

    # tolerance is absolute distance: forward match at 15 min > 10 min cap
    ftol = got(direction="forward", tolerance_seconds=600)
    assert ftol[(1, t(5))] is None
    assert ftol[(1, t(12))] == "late"

    import pytest

    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on=["k"], direction="sideways")


def test_asof_join_null_left_ts_matches_nothing(spark):
    """A LEFT row with a NULL stamp must return a NULL match in EVERY
    direction: under desc ordering Spark puts NULLs LAST, so without
    desc_nulls_first the forward/nearest windows would scan a NULL left
    row after every right row and hand it the EARLIEST right payload."""
    import datetime as dt

    from operator_families.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(1, None), (1, t(5))], "k bigint, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t(0), "early"), (1, t(20), "late")],
        "k bigint, ts timestamp, tag string",
    )
    for direction in ("backward", "forward", "nearest"):
        got = {
            r.ts: r.tag
            for r in asof_join(
                left, right, on=["k"], direction=direction
            ).collect()
        }
        assert got[None] is None, direction
        assert got[t(5)] == ("early" if direction != "forward" else "late")
    # ...and with a tolerance on top the NULL row still matches nothing.
    tol = {
        r.ts: r.tag
        for r in asof_join(
            left, right, on=["k"], direction="nearest", tolerance_seconds=10**6
        ).collect()
    }
    assert tol[None] is None


# ---------------------------------------------------------------------------
# VersionedZone: multi-writer write-audit-publish (sources/zones.py)
# ---------------------------------------------------------------------------


def _zone(spark, tmp_path, **kw):
    from operator_families.sources.zones import VersionedZone

    return VersionedZone(spark, str(tmp_path / "zone"), **kw)


def test_versioned_zone_sequential_upserts(spark, tmp_path):
    z = _zone(spark, tmp_path)
    b1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "k bigint, ver bigint, val string"
    )
    v, rows = z.upsert(b1, ["k"], "ver")
    assert (v, rows) == (1, 2)
    b2 = spark.createDataFrame(
        [(2, 20, "b2"), (3, 5, "c")], "k bigint, ver bigint, val string"
    )
    v, rows = z.upsert(b2, ["k"], "ver")
    assert (v, rows) == (2, 3)
    got = {r.k: r.val for r in z.read().collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    m = z.manifest()
    assert m["version"] == 2 and m["base_version"] == 1 and m["rows"] == 3


def test_versioned_zone_claim_exception_is_a_lost_claim(spark, tmp_path):
    """Hadoop's local FS can surface a concurrent claim create as a THROWN
    FileAlreadyExistsException/IOException instead of returning false
    (reproduced in the r9 full-suite run: Py4JJavaError out of
    ``createNewFile`` aborted a whole commit).  The protocol contract is
    "on loss, recompute and retry" — so an exception-flavored race must be
    absorbed as a lost claim, not escape as a commit failure.  This test
    injects a throwing FS proxy for the first two claim creates and
    asserts the commit still lands."""
    z = _zone(spark, tmp_path)
    z.upsert(
        spark.createDataFrame([(1, 1, "a")], "k bigint, ver bigint, val string"),
        ["k"],
        "ver",
    )
    real_fs = z._fs

    class ThrowingFS:
        """Delegating proxy: first two .claim creates throw (the exception
        flavor of losing the createNewFile race), everything else passes
        through to the real Hadoop FileSystem."""

        def __init__(self):
            self.claim_throws_left = 2

        def createNewFile(self, p):
            if p.getName().endswith(".claim") and self.claim_throws_left > 0:
                self.claim_throws_left -= 1
                raise RuntimeError(
                    "injected: FileAlreadyExistsException flavor of a "
                    "concurrent claim create"
                )
            return real_fs.createNewFile(p)

        def __getattr__(self, name):
            return getattr(real_fs, name)

    z._fs = ThrowingFS()
    v, rows = z.upsert(
        spark.createDataFrame([(2, 2, "b")], "k bigint, ver bigint, val string"),
        ["k"],
        "ver",
    )
    assert z._fs.claim_throws_left == 0  # the injection actually fired
    assert rows == 2
    got = {r.k: r.val for r in z.read().collect()}
    assert got == {1: "a", 2: "b"}  # commit landed despite the thrown races


def test_versioned_zone_concurrent_upserts_no_lost_update(spark, tmp_path):
    """Two writers commit interleaved upserts from the same starting
    snapshot; the claim protocol serializes them, so BOTH updates land —
    the lost-update failure mode of the naive delete+rename swap."""
    import threading
    import time as _time

    z = _zone(spark, tmp_path)
    z.upsert(
        spark.createDataFrame(
            [(1, 1, "base1"), (2, 1, "base2")],
            "k bigint, ver bigint, val string",
        ),
        ["k"],
        "ver",
    )

    errs = []

    def writer(k, val):
        def run():
            try:
                batch = spark.createDataFrame(
                    [(k, 2, val)], "k bigint, ver bigint, val string"
                )

                def merge(base):
                    _time.sleep(0.5)  # widen the race window
                    from nl_railtraffic_etl_pipeline_spark.operators.upsert import (
                        upsert_latest_wins,
                    )

                    return upsert_latest_wins(base, batch, ["k"], "ver")

                z.commit(merge, schema=batch.schema)
            except Exception as ex:  # pragma: no cover - surfaced below
                errs.append(ex)

        return run

    t1 = threading.Thread(target=writer(1, "w1"))
    t2 = threading.Thread(target=writer(2, "w2"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    got = {r.k: r.val for r in z.read().collect()}
    assert got == {1: "w1", 2: "w2"}          # neither update lost — the invariant
    v = z.current_version()
    # 3 = the clean serialization (loser re-based on winner); 4 = the
    # contested path (one lease expired under load, its commit aborted at
    # the arbiter and re-applied at a fresh version).  Both are correct;
    # only losing an update would be a bug.
    assert v in (3, 4)
    assert z.manifest(v)["base_version"] == v - 1


def test_versioned_zone_audit_blocks_publish(spark, tmp_path):
    import pytest as _pytest

    from operator_families.sources.zones import ZoneAuditError

    z = _zone(spark, tmp_path)
    z.upsert(
        spark.createDataFrame([(1, 1, "a")], "k bigint, ver bigint, val string"),
        ["k"],
        "ver",
    )

    def audit(staged):
        dup = (
            staged.groupBy("k").count().filter("count > 1").count()
        )
        if dup:
            raise AssertionError(f"{dup} duplicate keys in staged snapshot")

    bad = spark.createDataFrame(
        [(2, 2, "x"), (2, 3, "y")], "k bigint, ver bigint, val string"
    )
    # a merge_fn that does NOT dedup -> audit must reject the stage
    with _pytest.raises(ZoneAuditError):
        z.commit(lambda base: base.unionByName(bad), audit_fn=audit)
    # nothing published, reader still sees v1; version 2 tombstoned
    assert z.current_version() == 1
    assert {r.k for r in z.read().collect()} == {1}
    # next commit skips the burned version number
    v, _ = z.upsert(bad.limit(1), ["k"], "ver")
    assert v == 3


def test_versioned_zone_slow_live_writer_not_tombstoned(spark, tmp_path):
    """A writer whose merge+stage takes MUCH longer than claim_timeout
    must not be declared dead while it heartbeats: the concurrent fast
    writer waits on the live lease instead of tombstoning it (the
    pre-heartbeat protocol clocked the whole stage against the timeout,
    so long concurrent commits starved each other)."""
    import threading
    import time as _time

    z = _zone(
        spark, tmp_path, claim_timeout=1.0, poll_interval=0.1,
        heartbeat_interval=0.2,
    )
    z.upsert(
        spark.createDataFrame(
            [(1, 1, "base")], "k bigint, ver bigint, val string"
        ),
        ["k"],
        "ver",
    )
    errs = []

    def slow_writer():
        try:
            batch = spark.createDataFrame(
                [(2, 2, "slow")], "k bigint, ver bigint, val string"
            )

            def merge(base):
                _time.sleep(3.0)  # 3x the claim_timeout
                from nl_railtraffic_etl_pipeline_spark.operators.upsert import (
                    upsert_latest_wins,
                )

                return upsert_latest_wins(base, batch, ["k"], "ver")

            z.commit(merge, schema=batch.schema)
        except Exception as ex:  # pragma: no cover - surfaced below
            errs.append(ex)

    th = threading.Thread(target=slow_writer)
    th.start()
    _time.sleep(0.5)  # let the slow writer claim v2 and start staging
    v_fast, _ = z.upsert(
        spark.createDataFrame(
            [(3, 2, "fast")], "k bigint, ver bigint, val string"
        ),
        ["k"],
        "ver",
    )
    th.join()
    assert not errs, errs
    # both landed, strictly serialized; the slow claim was never skipped
    got = {r.k: r.val for r in z.read().collect()}
    assert got == {1: "base", 2: "slow", 3: "fast"}
    assert z.current_version() == 3
    assert not any(n.endswith(".skip") for n in z._names())
    assert v_fast == 3  # the fast writer WAITED and rebased on the slow one
    assert z.manifest(3)["base_version"] == 2


def test_versioned_zone_dead_claim_recovery(spark, tmp_path):
    """A claim file without a writer (crashed before staging) must not
    wedge the zone: the next committer tombstones it after the timeout
    and publishes at a higher version."""
    z = _zone(spark, tmp_path, claim_timeout=1.0, poll_interval=0.1)
    b = spark.createDataFrame([(1, 1, "a")], "k bigint, ver bigint, val string")
    z.upsert(b, ["k"], "ver")
    # synthesize a dead writer holding v2
    assert z._claim(2)
    v, _ = z.upsert(
        spark.createDataFrame([(2, 1, "b")], "k bigint, ver bigint, val string"),
        ["k"],
        "ver",
    )
    assert v == 3 and z.current_version() == 3
    assert {r.k for r in z.read().collect()} == {1, 2}


def test_versioned_zone_prune_keeps_window(spark, tmp_path):
    z = _zone(spark, tmp_path)
    for i in range(1, 5):
        z.upsert(
            spark.createDataFrame(
                [(i, i, f"v{i}")], "k bigint, ver bigint, val string"
            ),
            ["k"],
            "ver",
        )
    dropped = z.prune(keep=2)
    assert dropped == [1, 2]
    assert z.current_version() == 4
    assert {r.k for r in z.read().collect()} == {1, 2, 3, 4}


def test_versioned_zone_time_travel(spark, tmp_path):
    import pytest as _pytest

    z = _zone(spark, tmp_path)
    for i in (1, 2, 3):
        z.upsert(
            spark.createDataFrame(
                [(1, i, f"v{i}")], "k bigint, ver bigint, val string"
            ),
            ["k"],
            "ver",
        )
    assert z.read().collect()[0].val == "v3"
    assert z.read(version=2).collect()[0].val == "v2"
    assert z.read(version=1).collect()[0].val == "v1"
    with _pytest.raises(FileNotFoundError):
        z.read(version=9)
    # pruned versions are gone for time travel too
    z.prune(keep=1)
    with _pytest.raises(FileNotFoundError):
        z.read(version=1)
    assert z.read(version=3).collect()[0].val == "v3"


def test_versioned_zone_dead_claim_owner_cannot_publish(spark, tmp_path):
    """The arbiter rename: once a resolver wins a stale claim, the
    (stalled-but-alive) owner's publish attempt aborts instead of
    landing a snapshot the resolver's merge base excluded."""
    import time as _time

    z_owner = _zone(spark, tmp_path)
    z_owner.upsert(
        spark.createDataFrame([(1, 1, "a")], "k bigint, ver bigint, val string"),
        ["k"],
        "ver",
    )
    # the "stalled writer": claims v2 but never heartbeats
    assert z_owner._claim(2)
    z_owner._fs.setTimes(
        z_owner._p("v00000002.claim"), int((_time.time() - 3600) * 1000), -1
    )
    z_resolver = _zone(spark, tmp_path, claim_timeout=1.0)
    assert z_resolver._claim_stale(2)
    assert z_resolver._tombstone(2)          # wins the arbitration
    assert not z_resolver._tombstone(2)      # second resolver loses it
    # the owner wakes and tries to publish v2: arbiter must refuse
    batch = spark.createDataFrame(
        [(2, 2, "late")], "k bigint, ver bigint, val string"
    )
    out = z_owner._commit_at(2, lambda base: batch, batch.schema, None)
    assert out is None
    assert not z_owner._fs.exists(z_owner._p("v00000002"))
    # the zone still serves v1, and a clean commit proceeds at v3
    assert z_owner.current_version() == 1
    v, _rows = z_owner.upsert(batch, ["k"], "ver")
    assert v == 3 and z_owner.manifest(3)["base_version"] == 1


def test_versioned_zone_resolver_wins_final_marker_drop(spark, tmp_path):
    """The residual stall guard's own check-then-act window: the owner
    passes the post-publish .dead/.skip re-check, then a resolver whose
    scan predates the snapshot rename tombstones the committed marker
    BEFORE the owner drops it.  The owner's delete of the marker fails
    (rename of that same path is the arbiter), so it must undo the
    snapshot and report no commit — the pre-fix code returned (t, rows)
    while _scan hid v{t} from every reader: a silent lost update."""
    z_owner = _zone(spark, tmp_path)
    z_owner.upsert(
        spark.createDataFrame([(1, 1, "a")], "k bigint, ver bigint, val string"),
        ["k"],
        "ver",
    )
    batch = spark.createDataFrame(
        [(2, 2, "late")], "k bigint, ver bigint, val string"
    )
    z_resolver = _zone(spark, tmp_path, claim_timeout=1.0)
    assert z_owner._claim(2)

    real_fs = z_owner._fs

    class RaceFS:
        """Delegates to the real Hadoop FS; on the owner's FIRST delete
        of the committed marker, lets the resolver tombstone it first."""

        def __init__(self):
            self.fired = False

        def delete(self, path, recursive=False):
            if (
                not self.fired
                and not recursive
                and path.getName().endswith(".claim.committed")
            ):
                self.fired = True
                assert z_resolver._tombstone(2)  # resolver wins the marker
            return real_fs.delete(path, recursive)

        def __getattr__(self, name):
            return getattr(real_fs, name)

    z_owner._fs = RaceFS()
    try:
        out = z_owner._commit_at(2, lambda base: batch, batch.schema, None)
    finally:
        z_owner._fs = real_fs
    assert out is None                      # NOT reported as a success
    assert not real_fs.exists(z_owner._p("v00000002"))   # snapshot undone
    assert z_owner.current_version() == 1   # readers still serve v1
    # the owner retries at a fresh version and the update actually lands
    v, _rows = z_owner.upsert(batch, ["k"], "ver")
    assert v == 3 and z_owner.manifest(3)["base_version"] == 1
    assert {r.k: r.val for r in z_owner.read().collect()} == {
        1: "a",
        2: "late",
    }
