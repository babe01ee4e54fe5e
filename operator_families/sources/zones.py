"""Multi-writer-safe versioned zone: optimistic concurrency over plain
parquet with a write-audit-publish commit protocol.

The single-writer zone swap (``pipeline._stage``/``_publish``: stage -> delete ->
rename) is atomic for readers but loses updates under concurrent writers:
two writers both merge from snapshot N and the second rename silently
shadows the first's rows.  This module is the multi-writer upgrade the
table formats (Delta/Iceberg, public designs) provide, rebuilt on the two
filesystem primitives that ARE atomic on local/HDFS:

- ``FileSystem.createNewFile`` — atomic create-if-absent (the CLAIM);
- ``FileSystem.rename`` onto a non-existent destination (the PUBLISH).

(Hadoop's ``rename`` onto an EXISTING directory nests the source inside it
— measured, not assumed — so the destination-free rename is only safe
because the claim file already guarantees exclusivity for that version
number.)

Layout under the zone root::

    v00000001/            published snapshot (parquet + _manifest.json)
    v00000002.claim       version number claimed by some writer
    v00000002/            ... published once that writer renames its WIP
    v00000003.skip        tombstone: claimed but declared dead, never
                          published; merge bases skip it
    v00000004__wip_<tok>  staged write, invisible to readers

Commit protocol (per attempt):

1. CLAIM   t = max(any claimed/published version) + 1 via
           ``createNewFile(v{t}.claim)``; on loss, recompute and retry.
           While staging, the owner HEARTBEATS the claim (rewrites the
           claim file's mtime every ``heartbeat_interval`` seconds, a
           daemon thread alongside the Spark write) — liveness is a
           lease, not a bound on how long the merge+stage may take.
2. RESOLVE every version s in (published_max, t): wait until s is
           published or tombstoned.  A claim is declared dead ONLY when
           its heartbeat is stale — mtime older than ``claim_timeout``
           seconds — so a live writer staging a long merge is waited
           on indefinitely, never tombstoned (the r7 behavior clocked
           the writer's ENTIRE stage against the timeout, which let
           concurrent long commits tombstone each other into mutual
           abort/retry starvation).  Declaring a claim dead is
           ARBITRATED: the resolver renames the claim file to
           ``.claim.dead`` — the same single source path the owner must
           rename to ``.claim.committed`` immediately before its
           snapshot rename — so exactly one side wins (rename of one
           source is atomic); the loser aborts/retries instead of
           publishing under a merge base that excluded it.  After this,
           the merge base — the highest published snapshot below t — is
           FINAL.  Residual caveat (documented, measured to matter
           before the arbiter landed: a writer stalled past its lease by
           CPU starvation published into the old check-to-rename window
           and lost an update): with the arbiter, a publisher stalled
           > claim_timeout between its TWO metadata renames can still
           place its snapshot, but the resolver's ``.dead`` marker makes
           _scan treat the version as tombstoned (published-and-skipped
           = skipped), and the publisher undoes the snapshot and retries
           when it wakes — readers never see it, and the re-merge at a
           fresh version re-applies the update.
3. WRITE   merge_fn(base) -> parquet under ``v{t}__wip_<token>``.
4. AUDIT   re-read the STAGED files (what was actually written, not the
           plan) and run ``audit_fn``; any exception aborts the commit,
           tombstones t, and removes the WIP — readers never saw it.
5. PUBLISH rename ``v{t}.claim`` -> ``v{t}.claim.committed`` (the
           arbiter — fails iff a resolver declared us dead, then we
           retry at a fresh version), rename WIP -> ``v{t}``
           (destination cannot exist: t was ours), re-check for a
           ``.dead``/skip marker (stalled-publisher undo), drop the
           committed marker.  The DROP is itself arbitrated: a resolver
           tombstones a committed claim by renaming that same marker
           path to ``.dead``, so a failed delete means a resolver won
           between the re-check and the drop — the owner re-checks once
           more and undoes the snapshot instead of reporting success.

Readers (``read``) take the highest published snapshot — complete by
construction since rename is atomic.  Lost updates are impossible: the
merge base is read strictly after the claim, and every lower version is
resolved first, so the base always contains every previously published
row.  ``prune`` retires old snapshots (time travel window).

At 100 TB the protocol is unchanged — snapshots are directories of
task-written parquet, the commit path touches only O(1) metadata ops —
but rename-as-copy object stores (raw S3) need the same external
arbiter the table formats need there; on S3+DynamoDB-style locking or
HDFS/ABFS this works as written.
"""

from __future__ import annotations

import json
import re
import threading
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_VDIR = re.compile(r"^v(\d{8})$")
_VCLAIM = re.compile(r"^v(\d{8})\.claim$")
_VSKIP = re.compile(r"^v(\d{8})\.skip$")
#: Arbiter states of a claim file (see _tombstone/_commit_at): the claim
#: renames to exactly ONE of these — .committed by its owner immediately
#: before the snapshot rename, .dead by a resolver that won the
#: staleness arbitration.  Rename of a single source path is the atomic
#: primitive: exactly one side can win.
_VCOMMIT = re.compile(r"^v(\d{8})\.claim\.committed$")
_VDEAD = re.compile(r"^v(\d{8})\.claim\.dead$")


class ZoneAuditError(RuntimeError):
    """The staged snapshot failed its pre-publish audit; nothing published."""


class VersionedZone:
    """One logical table as a sequence of immutable published snapshots."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        claim_timeout: float = 60.0,
        poll_interval: float = 0.2,
        heartbeat_interval: float | None = None,
    ) -> None:
        """``claim_timeout`` is the HEARTBEAT staleness bound (a lease):
        a claim whose file mtime is older than this is declared dead.
        It must exceed heartbeat jitter + cross-writer clock skew — NOT
        the stage duration; live writers heartbeat every
        ``heartbeat_interval`` (default ``claim_timeout / 4``) for as
        long as the merge+stage runs."""
        self.spark = spark
        self.path = path.rstrip("/")
        self.claim_timeout = claim_timeout
        self.poll_interval = poll_interval
        self.heartbeat_interval = (
            claim_timeout / 4.0
            if heartbeat_interval is None
            else heartbeat_interval
        )
        jvm = spark.sparkContext._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(self.path).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        self._fs.mkdirs(self._Path(self.path))

    # -- filesystem helpers --------------------------------------------------
    def _p(self, name: str):
        return self._Path(f"{self.path}/{name}")

    def _names(self) -> list[str]:
        return [
            s.getPath().getName()
            for s in self._fs.listStatus(self._Path(self.path))
        ]

    def _scan(self) -> tuple[set[int], set[int], set[int]]:
        """(published, claimed, skipped) version numbers."""
        pub: set[int] = set()
        clm: set[int] = set()
        skp: set[int] = set()
        for n in self._names():
            if m := _VDIR.match(n):
                pub.add(int(m.group(1)))
            elif m := _VCLAIM.match(n) or _VCOMMIT.match(n):
                # a committed marker is still a live claim: its owner is
                # between the two publish renames and MUST stay pending
                clm.add(int(m.group(1)))
            elif m := _VSKIP.match(n) or _VDEAD.match(n):
                skp.add(int(m.group(1)))
        # contested: published AND tombstoned can coexist only in the
        # stalled-publisher residual window; the tombstone wins (the
        # publisher undoes its snapshot when it wakes), so readers and
        # base selection must never see the snapshot
        pub -= skp
        return pub, clm, skp

    # -- read side -------------------------------------------------------------
    def current_version(self) -> int | None:
        pub, _, _ = self._scan()
        return max(pub) if pub else None

    def read(self, schema=None, version: int | None = None) -> DataFrame:
        """Snapshot read: the highest published snapshot, or — time travel —
        the exact published ``version`` (snapshots are immutable, so any
        retained version replays byte-identically).  Empty frame with
        ``schema`` when the zone has no snapshot and no version was asked.
        """
        if version is not None:
            pub, _, _ = self._scan()
            if version not in pub:
                raise FileNotFoundError(
                    f"zone {self.path} has no published v{version} "
                    f"(published: {sorted(pub)})"
                )
            return self.spark.read.parquet(self._snap(version))
        v = self.current_version()
        if v is None:
            if schema is None:
                raise FileNotFoundError(
                    f"zone {self.path} has no published snapshot"
                )
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(self._snap(v))

    def _snap(self, v: int) -> str:
        return f"{self.path}/v{v:08d}"

    def manifest(self, v: int | None = None) -> dict:
        v = self.current_version() if v is None else v
        if v is None:
            raise FileNotFoundError(f"zone {self.path} has no snapshot")
        # commons-io ships with Hadoop; py4j byte[] reads don't copy back
        # into Python bytearrays, so stream-to-string happens JVM-side.
        jvm = self.spark.sparkContext._jvm
        stream = self._fs.open(self._Path(f"{self._snap(v)}/_manifest.json"))
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(text)

    # -- write side --------------------------------------------------------------
    def _claim(self, t: int) -> bool:
        # createNewFile's contract is atomic create-or-False, but local
        # Hadoop FS can surface a concurrent create as a thrown
        # FileAlreadyExistsException/IOException under load instead of
        # returning false.  Either flavor means the same thing — someone
        # else owns t — so an exception is absorbed as a lost claim (the
        # caller recomputes against the new tip and retries), never
        # allowed to abort the commit.  The absorbed exception is still
        # RECORDED: a persistent non-race failure (permissions, disk
        # full) would otherwise exhaust the retry budget and surface
        # only as a generic 'gave up' error with the root cause
        # discarded (ADVICE r10) — commit() chains the last one.
        try:
            ok = bool(self._fs.createNewFile(self._p(f"v{t:08d}.claim")))
            self._last_claim_exc = None
            return ok
        except Exception as exc:
            self._last_claim_exc = exc
            return False

    def _tombstone(self, t: int) -> bool:
        """Arbitrated tombstone: win the claim file by renaming it to
        .dead (rename of one source path — exactly one winner against
        the owner's rename to .committed), then drop the durable skip
        marker.  Returns False when the arbitration was lost (the owner
        committed, or another resolver already acted) — callers rescan.
        """
        claim = self._p(f"v{t:08d}.claim")
        committed = self._p(f"v{t:08d}.claim.committed")
        dead = self._p(f"v{t:08d}.claim.dead")
        won = False
        try:
            if self._fs.exists(claim) and self._fs.rename(claim, dead):
                won = True
            elif self._fs.exists(committed) and self._fs.rename(
                committed, dead
            ):
                # the owner won the claim arbiter but its snapshot never
                # appeared within the lease — it is dead mid-publish (or
                # stalled: it re-checks the .dead marker after its
                # snapshot rename and undoes)
                won = True
        except Exception:  # pragma: no cover - fs hiccup, caller rescans
            won = False
        if won:
            # the .skip create may race a concurrent resolver (or throw the
            # FileAlreadyExists flavor instead of returning false) — either
            # way the marker is durable if it exists; only swap .dead out
            # once the durable marker is confirmed on disk.  If it never
            # materialized, keep .dead: _scan counts .dead as skipped, so
            # the tombstone stays effective and a later resolver retries
            # the swap.
            try:
                self._fs.createNewFile(self._p(f"v{t:08d}.skip"))
            except Exception:
                pass
            if self._fs.exists(self._p(f"v{t:08d}.skip")):
                self._fs.delete(dead, False)
        return won

    def _touch_claim(self, t: int) -> None:
        """Heartbeat: refresh the claim file's mtime to 'now'."""
        self._fs.setTimes(
            self._p(f"v{t:08d}.claim"), int(time.time() * 1000), -1
        )

    def _claim_stale(self, s: int) -> bool:
        """True when claim s's heartbeat (file mtime) is older than
        ``claim_timeout`` — the owner stopped beating, so it is dead.
        A vanished claim file (pruned) also counts as dead."""
        for name in (f"v{s:08d}.claim", f"v{s:08d}.claim.committed"):
            try:
                st = self._fs.getFileStatus(self._p(name))
            except Exception:
                continue
            age_s = time.time() - st.getModificationTime() / 1000.0
            return age_s > self.claim_timeout
        return True

    def _resolve_below(self, t: int) -> None:
        """Wait until every claimed version in (published_max, t) is
        published or tombstoned.  Only claims with a STALE heartbeat are
        tombstoned — a live writer mid-stage keeps its claim fresh and
        is waited on for as long as it beats (lease semantics; the wait
        is bounded by the owner's real lifetime, not by a fixed clock
        on its stage duration)."""
        while True:
            pub, clm, skp = self._scan()
            pending = {
                s for s in clm if s < t and s not in pub and s not in skp
            }
            if not pending:
                return
            for s in pending:
                if self._claim_stale(s):
                    self._tombstone(s)
            time.sleep(self.poll_interval)

    def commit(
        self,
        merge_fn,
        schema=None,
        audit_fn=None,
        max_attempts: int = 16,
    ) -> tuple[int, int]:
        """Merge-and-publish: ``merge_fn(base_df) -> merged_df``.

        Returns (published_version, row_count).  ``audit_fn(staged_df)``
        runs over the staged files before publish and aborts the commit
        by raising (wrapped in :class:`ZoneAuditError`).
        """
        for _ in range(max_attempts):
            pub, clm, skp = self._scan()
            t = max(pub | clm | skp, default=0) + 1
            if not self._claim(t):
                continue  # raced: someone claimed t first
            stop_beat = threading.Event()
            beater = threading.Thread(
                target=self._beat_claim, args=(t, stop_beat), daemon=True
            )
            beater.start()
            try:
                published = self._commit_at(
                    t, merge_fn, schema, audit_fn
                )
            finally:
                stop_beat.set()
                beater.join(timeout=5.0)
            if published is not None:
                return published
        last = getattr(self, "_last_claim_exc", None)
        raise RuntimeError(
            f"zone {self.path}: gave up after {max_attempts} commit attempts"
            + (f" (last claim error: {last!r})" if last is not None else "")
        ) from last

    def _beat_claim(self, t: int, stop: threading.Event) -> None:
        """Daemon heartbeat: keep claim t's lease fresh while staging.
        Best-effort — a dropped beat only narrows the lease; the publish
        path re-checks the tombstone regardless."""
        while not stop.wait(self.heartbeat_interval):
            try:
                self._touch_claim(t)
            except Exception:  # pragma: no cover - fs hiccup, keep trying
                pass

    def _commit_at(self, t, merge_fn, schema, audit_fn) -> tuple | None:
        """One claimed attempt at version t; None means retry (zombie)."""
        self._resolve_below(t)
        pub, _, _ = self._scan()
        base_v = max((s for s in pub if s < t), default=None)
        base = (
            self.spark.read.parquet(self._snap(base_v))
            if base_v is not None
            else self.spark.createDataFrame([], schema)
        )
        wip = f"{self.path}/v{t:08d}__wip_{uuid.uuid4().hex[:12]}"
        obs = Observation()
        merged = merge_fn(base)
        merged.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(wip)
        rows = int(obs.get["rows"])
        if audit_fn is not None:
            try:
                audit_fn(self.spark.read.parquet(wip))
            except Exception as ex:
                self._fs.delete(self._Path(wip), True)
                self._tombstone(t)
                raise ZoneAuditError(
                    f"zone {self.path} v{t}: audit failed: {ex}"
                ) from ex
        self._write_manifest(wip, t, base_v, rows)
        # zombie fast path: declared dead while staging — the version
        # number is burned, abort rather than publish over it
        if self._fs.exists(self._p(f"v{t:08d}.skip")):
            self._fs.delete(self._Path(wip), True)
            return None
        # ARBITER: only the living claim owner may publish.  Renaming the
        # claim to .committed contends with a resolver's rename to .dead
        # on the SAME source path — atomic, exactly one winner (this is
        # what closes the tombstone-check-to-rename lost-update window:
        # a resolver that declared us dead owns the version now, and our
        # rename fails here instead of publishing under its merge base).
        claim = self._p(f"v{t:08d}.claim")
        committed = self._p(f"v{t:08d}.claim.committed")
        if not (
            self._fs.exists(claim)
            and self._fs.rename(claim, committed)
        ):
            self._fs.delete(self._Path(wip), True)
            return None
        if not self._fs.rename(self._Path(wip), self._Path(self._snap(t))):
            self._fs.delete(self._Path(wip), True)
            self._fs.delete(committed, False)
            raise IOError(
                f"zone {self.path}: publish rename failed for v{t}"
            )
        # residual stall guard: a resolver may declare even the committed
        # marker stale (we slept > claim_timeout between the two renames).
        # If it did, it owns the version and has already excluded us from
        # its merge base — undo the snapshot and retry at a fresh version
        # (_scan treats published-and-skipped as skipped, so no reader
        # ever saw it).
        if self._fs.exists(self._p(f"v{t:08d}.claim.dead")) or self._fs.exists(
            self._p(f"v{t:08d}.skip")
        ):
            self._fs.delete(self._Path(self._snap(t)), True)
            self._fs.delete(committed, False)
            return None
        # The delete of the committed marker is the owner's LAST contended
        # act: a resolver tombstoning a stalled committed claim renames
        # this SAME path to .dead, so exactly one of {our delete, its
        # rename} can succeed.  A failed delete therefore means a resolver
        # won the marker between the stall guard above and here — the
        # check-then-act window of the guard itself.  Re-check and undo:
        # once our delete succeeds no resolver can ever act (its rename
        # source is gone), so success here is final.
        if not self._fs.delete(committed, False) and (
            self._fs.exists(self._p(f"v{t:08d}.claim.dead"))
            or self._fs.exists(self._p(f"v{t:08d}.skip"))
        ):
            self._fs.delete(self._Path(self._snap(t)), True)
            return None
        return t, rows

    def _write_manifest(
        self, wip: str, t: int, base_v: int | None, rows: int
    ) -> None:
        body = json.dumps(
            {
                "version": t,
                "base_version": base_v,
                "rows": rows,
                "committed_unix": time.time(),
            }
        ).encode("utf-8")
        out = self._fs.create(self._Path(f"{wip}/_manifest.json"), True)
        try:
            out.write(bytearray(body))
        finally:
            out.close()

    def upsert(
        self,
        updates: DataFrame,
        keys: list[str],
        order_col: str,
        audit_fn=None,
    ) -> tuple[int, int]:
        """Latest-wins upsert as a zone commit — the multi-writer form of
        ``operators.upsert.upsert_latest_wins`` behind the same semantics."""
        from nl_railtraffic_etl_pipeline_spark.operators.upsert import upsert_latest_wins

        return self.commit(
            lambda base: upsert_latest_wins(base, updates, keys, order_col),
            schema=updates.schema,
            audit_fn=audit_fn,
        )

    # -- maintenance -------------------------------------------------------------
    def prune(self, keep: int = 2) -> list[int]:
        """Delete published snapshots older than the newest ``keep`` (and
        their markers).  Claims at or above the retained window are never
        touched."""
        pub, _, _ = self._scan()
        if not pub:
            return []
        cutoff = sorted(pub)[-keep:] if keep > 0 else []
        dropped = sorted(s for s in pub if s not in cutoff)
        for s in dropped:
            self._fs.delete(self._Path(self._snap(s)), True)
            self._fs.delete(self._p(f"v{s:08d}.claim"), False)
            self._fs.delete(self._p(f"v{s:08d}.skip"), False)
        # crashed writers' WIP litter: any staged dir whose version is
        # below the retained window belongs to a writer that can no longer
        # publish (claims only grow) — safe to clear
        floor = min(cutoff, default=0)
        for n in self._names():
            m = re.match(r"^v(\d{8})__wip_", n)
            if m and int(m.group(1)) < floor:
                self._fs.delete(self._p(n), True)
        return dropped
