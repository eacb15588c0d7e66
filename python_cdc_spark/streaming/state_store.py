"""Crash-atomic, bucket-pruned state storage for streaming operators.

``StreamingApplyChanges`` / ``StreamingScd2`` keep their keyed state
hash-bucketed so a micro-batch rewrites only the buckets it touches.
Round-1 used parquet dynamic-partition overwrite for that rewrite, which
is NOT atomic: a crash between deleting a bucket's old files and
committing its new ones loses the bucket (flagged in round-1 ADVICE).

This store fixes it with a miniature manifest log — the same idea
transactional table formats (Delta/Iceberg) use, reduced to exactly what
the bucketed-state access pattern needs:

- Data files are IMMUTABLE. Version ``N`` of the state writes only the
  touched buckets' rows, as plain ``<path>/v<N>/part-*.parquet`` files;
  nothing is ever overwritten in place.
- A single JSON manifest maps bucket → the version that holds its
  current data. Commit = write the new version's files, then swap the
  manifest via write-temp + atomic rename. A crash anywhere before the
  rename leaves the old manifest — and therefore a fully consistent
  old state — in place; the orphaned ``v<N>`` directory is garbage,
  reclaimed by :meth:`vacuum`.
- Reads group the live buckets by the version that holds them and scan
  each of those version dirs once, filtered to ``bucket IN (the
  buckets the manifest maps to that version)``; the scans are unioned.
  The filter is what makes the layout correct, not only fast: a
  version dir still holds the rows of buckets that a later version has
  rewritten, and those stale rows must never be served.

Single-writer by design: ``foreachBatch`` serializes micro-batches, so
no manifest lock is needed. The atomic-rename primitive is
``os.replace`` (POSIX-atomic); on HDFS the equivalent rename is atomic
too, while S3 would need a DFS committer or a real table format — at
which point Delta/Iceberg MERGE is the drop-in upgrade (interface
unchanged: read / commit / vacuum).

Scale: per-batch write cost stays O(touched buckets), manifest size is
O(n_buckets) (a few KB at 64–4096 buckets), and vacuum is O(versions)
directory removals — nothing here scans the full state.

Layout (manifest ``"format": 2``): one file per write task, not one per
bucket. ``commit`` hash-repartitions its input on ``bucket`` into
``min(touched, parallelism)`` write tasks (:meth:`BucketedStateStore.
cluster`), sorts each task's rows by bucket and writes one file per
task, so each bucket's rows sit in exactly one file of its version and
a 64-bucket commit on a 4-core executor creates 4 files instead of 64
(at micro-batch sizes a file's create, checksum and committer rename
cost more than its rows). A caller that ends its plan in ``cluster``
(the streaming apply fold) gets the commit's repartition dropped by
Spark, whose partitioning check finds the input already clustered; its
work then runs inside the write tasks. Manifests of the earlier
directory-per-bucket layout carry no ``format`` and are refused with a
``ValueError`` — drop the state and its streaming checkpoint and
rebuild.
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from python_cdc_spark import fsops

_MANIFEST = "_manifest.json"
#: on-disk layout version every manifest records (module docstring)
_FORMAT = 2


class BucketedStateStore:
    """Versioned bucketed parquet state with atomic commits."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")

    # -- manifest ---------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _load_manifest_with_token(self) -> tuple[dict, object]:
        """The committed manifest (an empty one before the first commit)
        and its identity token, refusing any layout but the current one
        (fsops.check_format)."""
        manifest, tok = fsops.read_json_with_token(self._manifest_path)
        if tok is None:  # no manifest file; an unreadable one is refused
            return {"format": _FORMAT, "version": 0, "buckets": {}}, tok
        return fsops.check_format(manifest, _FORMAT, self._manifest_path), tok

    def _load_manifest(self) -> dict:
        return self._load_manifest_with_token()[0]

    def _save_manifest(self, manifest: dict, expected_token) -> None:
        # conditional commit point (fsops.cas_publish): a racing
        # writer's manifest swap loses cleanly
        fsops.cas_publish(self._manifest_path, manifest, expected_token)
        # Per-version snapshot (a few hundred bytes) AFTER the commit
        # point, so a crash in between loses only this version's
        # read_at() — it can never advertise an uncommitted version.
        # read_at additionally refuses versions above the committed one.
        fsops.publish_json(
            os.path.join(self.path, f"_manifest_v{manifest['version']}.json"),
            manifest,
        )

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version}")

    @property
    def version(self) -> int:
        return self._load_manifest()["version"]

    # -- read -------------------------------------------------------------

    def read(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Current state as a DataFrame (``bucket`` is a data column), or
        ``None`` if the store holds no state. ``buckets`` restricts the
        read to those buckets: only the version dirs holding them are
        scanned, each filtered to its live buckets (:meth:`_scan`)."""
        return self._scan(self._load_manifest(), buckets)

    def read_at(self, version: int, buckets: list[int] | None = None) -> DataFrame | None:
        """Time travel: the state exactly as committed at ``version``.

        Works while the referenced data files survive (``vacuum``
        reclaims superseded versions — run it lazily/retention-windowed
        where history matters, exactly the Delta/Iceberg trade). Raises
        ``FileNotFoundError`` for a never-committed version."""
        if version > self._load_manifest()["version"]:
            # a snapshot above the committed version can only be debris
            # from a pre-reorder layout; never serve uncommitted state
            raise FileNotFoundError(f"version {version} was never committed")
        snap = os.path.join(self.path, f"_manifest_v{version}.json")
        if not os.path.isfile(snap):
            raise FileNotFoundError(f"no committed manifest for version {version}")
        manifest = fsops.check_format(fsops.read_json(snap), _FORMAT, snap)
        return self._scan(manifest, buckets)

    def _scan(self, manifest: dict, buckets: list[int] | None) -> DataFrame | None:
        """Union of one scan per version dir holding live buckets, each
        filtered to ``bucket IN`` the buckets ``manifest`` maps to that
        version — the filter drops the stale rows an older version still
        holds for buckets a later version rewrote. Every scan uses the
        schema recorded at commit time (a schemaless read costs one
        footer-inference job per micro-batch); files committed before a
        column was added read as NULL for it, which is exactly the
        schema-evolution semantics the apply store wants."""
        wanted = None if buckets is None else {int(b) for b in buckets}
        by_version: dict[int, list[int]] = {}
        for b, v in manifest["buckets"].items():
            if wanted is None or int(b) in wanted:
                by_version.setdefault(v, []).append(int(b))
        if not by_version:
            return None
        schema = StructType.fromJson(json.loads(manifest["schema"]))
        scans = [
            self.spark.read.schema(schema)
            .parquet(self._vdir(v))
            .filter(F.col("bucket").isin(sorted(bs)))
            for v, bs in sorted(by_version.items())
        ]
        return functools.reduce(DataFrame.union, scans)

    # -- write ------------------------------------------------------------

    def cluster(self, df: DataFrame, touched: list[int]) -> DataFrame:
        """``df`` hash-partitioned on ``bucket`` into the commit's write
        tasks, ``min(len(touched), defaultParallelism)``. ``commit``
        applies it to its input; a caller that applies it first, with
        the same ``touched``, hands the commit a plan whose partitioning
        already matches, so Spark drops the commit's repartition and the
        caller's work between the two runs inside the write tasks."""
        par = int(self.spark.sparkContext.defaultParallelism)
        return df.repartition(max(1, min(len(touched), par)), "bucket")

    def commit(self, state: DataFrame, touched: list[int]) -> int:
        """Atomically replace the state of ``touched`` buckets.

        ``state`` must carry an integral ``bucket`` column and contain
        only rows for ``touched`` buckets. Returns the committed version.
        A touched bucket with no surviving rows is dropped from the
        manifest (its state is now empty).

        The commit owns the bucket clustering, so callers pass ``state``
        in whatever partitioning their plan left: it goes through
        :meth:`cluster`, is sorted by bucket within each task and
        written as one ``v<N>/part-*.parquet`` file per task. A bucket
        never spans two tasks, so each touched bucket's rows sit in
        exactly one file. The buckets actually written come from an
        ``Observation`` on the write itself (no extra job).

        r13: the commit follows the maintained structures'
        stage-and-claim + CAS protocol (fsops): the version's files are
        staged into a writer-private dir, claimed into the first free
        ``v<N>`` slot by non-clobbering rename (a crashed replay's
        orphan or a racing writer's dir is never deleted — the loser's
        slot is vacuum fodder), and the manifest swap is CONDITIONAL on
        the token read at commit start. foreachBatch serializes batches
        within one stream, so in the common case the CAS always wins;
        a second WRITER PROCESS on the same store now loses cleanly
        (fsops.ConcurrentWriterError) instead of corrupting state."""
        manifest, tok = self._load_manifest_with_token()
        os.makedirs(self.path, exist_ok=True)
        staging = fsops.staging(self.path)
        obs = Observation()
        (
            self.cluster(state, touched)
            .sortWithinPartitions("bucket")
            .observe(obs, F.collect_set("bucket").alias("written"))
            .write.mode("errorifexists")
            .parquet(staging)
        )
        written = {int(b) for b in obs.get["written"]}
        new_version = fsops.claim(staging, self._vdir, manifest["version"] + 1)
        buckets = dict(manifest["buckets"])
        for b in touched:
            if b in written:
                buckets[str(b)] = new_version
            else:
                buckets.pop(str(b), None)  # bucket emptied by this batch
        self._save_manifest(
            {
                "format": _FORMAT,
                "version": new_version,
                "buckets": buckets,
                # recorded so reads open with an explicit schema (zero
                # inference job)
                "schema": state.schema.json(),
            },
            expected_token=tok,
        )
        return new_version

    # -- maintenance ------------------------------------------------------

    def vacuum_plan(self, retain_last: int = 0) -> tuple[list[str], set[str]]:
        """``(removable, live)``, both relative to the store path.

        ``live`` holds every version dir the current manifest or a
        retained snapshot references, plus the retained snapshots
        themselves. ``retain_last=N`` keeps N SUPERSEDED manifest
        snapshots below the always-live current one, so ``read_at(cur -
        N)`` keeps working — the meaning every maintained structure
        gives it (``maintenance.py`` module docstring). ``removable``
        holds the unreferenced version dirs (superseded bucket data and
        orphans from interrupted commits), the snapshots outside the
        window (their data files are about to go) and crashed writers'
        staging dirs past the age gate (young staging may belong to a
        live concurrent writer). The one derivation behind both
        :meth:`vacuum` and ``maintenance.vacuum``."""
        manifest = self._load_manifest()
        live = {f"v{v}" for v in manifest["buckets"].values()}
        cur = manifest["version"]
        for version in range(max(1, cur - retain_last), cur + 1):
            snap = f"_manifest_v{version}.json"
            m = fsops.read_json(os.path.join(self.path, snap))
            if m is not None:
                live |= {f"v{v}" for v in m["buckets"].values()}
            live.add(snap)
        removable = []
        for entry in fsops.list_dir(self.path):
            if entry.startswith("_manifest_v") and entry.endswith(".json"):
                if entry not in live:
                    removable.append(entry)
            elif fsops.is_stale_staging(self.path, entry) or (
                entry.startswith("v") and entry[1:].isdigit() and entry not in live
            ):
                removable.append(entry)
        return removable, live

    def vacuum(self, retain_last: int = 0) -> list[str]:
        """Delete what :meth:`vacuum_plan` finds removable. Safe under
        the single-writer model (nothing reads a version that the
        current manifest does not reference). Returns the removed dirs;
        the dropped snapshots are housekeeping and are not reported.
        Pinned equivalent to ``maintenance.vacuum`` by
        ``tests/test_maintenance.py``."""
        removed = []
        for entry in self.vacuum_plan(retain_last)[0]:
            full = os.path.join(self.path, entry)
            if entry.startswith("_manifest_v"):
                fsops.remove_file(full)
                continue
            fsops.remove_tree(full)
            removed.append(full)
        return removed
