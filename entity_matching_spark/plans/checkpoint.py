"""Stage checkpointing with per-partition lineage + metrics and resume.

North-rule requirement: "checkpoints each stage (blocking output, scored
pairs, component labels) ... with per-partition lineage and metrics so any
stage is resumable". Each stage is partitioned Parquet plus a JSON manifest
carrying the lineage columns (rows, content hash, part files, params and
upstream hashes). ``StageCheckpointer.stage`` is the one stage runner: both
``plans/pipeline.run_pipeline`` and ``run_profile`` drive their DAGs
through it.

Every manifest read, write and listing, and the part-file listing, goes
through Spark's Hadoop FS layer (``_fs*`` below; ``streaming/ingest.py``
uses the same helpers), so a ``file://``, ``hdfs://`` or ``s3a://`` work dir
behaves like a local path. Manifests commit atomically (tmp file + rename),
and ``write`` deletes a stage's manifest BEFORE overwriting its data: a run
that dies mid-overwrite leaves no manifest, never one claiming the
clobbered files.

Resume contract: a stage is skipped iff its manifest exists AND the recorded
``params_hash`` equals the current config's hash AND the recorded
``upstream_hash`` chain matches — so changing any config knob (or any
upstream stage) invalidates downstream checkpoints automatically, while a
crashed run restarts at the first missing stage.

Lineage is SINGLE-PASS (round 5): the row count and the order-independent
content hash ride the WRITE itself as ``df.observe()`` metrics (a
CollectMetrics node over the write-side plan), so a stage is scanned exactly
once — at 100 TB the previous read-back-to-fingerprint doubled every stage's
read I/O. The re-read survives only as the opt-in ``audit_lineage`` mode,
which recomputes the fingerprint from the materialized files, CROSS-CHECKS
it against the observed one (fail-loud on torn/partial output), and adds the
per-partition hash breakdown to the manifest.

The reference has no analog (single-shot CLI, per-document try/catch,
orchestrator/EntityMatchingOrchestrator.java:140-187); at 10^12-turn scale
every stage must be independently resumable.
"""

from __future__ import annotations

import hashlib
import json
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

MANIFEST_NAME = "_manifest.json"


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path, JVM view) for ``path``. The Hadoop
    FS resolves whatever scheme the path carries; driver-local ``os``/
    ``open`` calls would misread a URI as a relative local path."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath, _ = _fs(spark, path)
    return bool(fs.exists(hpath))


def _fs_write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Crash-safe single-file replace: write ``<path>.tmp`` fully, then
    rename over the target (rename IS the atomic primitive on HDFS/posix).
    Where the FS refuses rename-onto-existing (HDFS ``FileSystem.rename``
    returns false if the destination exists), delete-then-rename is used;
    that leaves a brief missing-file window but NEVER a partial file — a
    missing stage manifest reads as "not complete", and
    ``streaming/ingest._compaction_manifest`` recovers a missing pointer
    from the per-directory ``_COMPACTION.json`` copies.
    """
    fs, hpath, jvm = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, hpath):
        fs.delete(hpath, False)
        if not fs.rename(tmp, hpath):
            raise IOError(f"atomic rename failed for {path}")


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, hpath, jvm = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def _row_hash(columns: list[str]) -> F.Column:
    """Order-independent per-row digest: xxhash64 over the SORTED column
    list (sorted so the pre-write plan and a post-write re-read — where
    ``partitionBy`` columns move to the end of the schema — hash the same
    bytes), summed in decimal so the total cannot overflow under ANSI mode.
    Makes the manifest fingerprint CONTENT-sensitive: a same-cardinality,
    same-schema recompute with different values still invalidates downstream
    checkpoints (``_fingerprint`` includes it)."""
    return F.xxhash64(*sorted(columns)).cast("decimal(25,0)")


def _fingerprint(manifest: dict) -> str:
    """A stage's output fingerprint for its downstream ``upstream_hash``
    chain: params + rows + schema + the content digest, so a same-
    cardinality, same-schema recompute with different values still changes
    it."""
    payload = json.dumps(
        {
            "params": manifest.get("params_hash"),
            "rows": manifest.get("output_rows"),
            "schema": manifest.get("schema"),
            "content": manifest.get("content_hash"),
        },
        sort_keys=True,
    ).encode()
    return hashlib.sha256(payload).hexdigest()[:12]


class StageCheckpointer:
    """Checkpoints under ``base_dir`` (any Hadoop FS URI or local path).

    ``run_id`` is stamped on every manifest and is the params hash
    ``stage()`` checks reuse against; ``resume=False`` makes ``stage()``
    rewrite every stage. ``input_fingerprint`` seeds the fingerprint of the
    pseudo-stage ``"input"`` that first stages name as their upstream.
    """

    def __init__(
        self,
        base_dir: str,
        run_id: str = "run",
        audit_lineage: bool = False,
        resume: bool = True,
        input_fingerprint: str = "",
    ):
        self.base_dir = base_dir.rstrip("/")
        self.run_id = run_id
        self.audit_lineage = audit_lineage
        self.resume = resume
        # per-stage output fingerprints; each stage's upstream_hash chains
        # them so a changed upstream output invalidates every downstream stage
        self.fingerprints: dict[str, str] = {"input": input_fingerprint}
        fs, hpath, _ = _fs(SparkSession.active(), self.base_dir)
        fs.mkdirs(hpath)

    # -- paths ---------------------------------------------------------------
    def stage_dir(self, stage: str) -> str:
        return f"{self.base_dir}/{stage}"

    def _manifest_path(self, stage: str) -> str:
        return f"{self.base_dir}/{stage}{MANIFEST_NAME}"

    # -- runner --------------------------------------------------------------
    def stage(self, name: str, upstreams: list[str], build) -> DataFrame:
        """Run one stage: write ``build()`` unless a complete checkpoint with
        this params hash and upstream chain exists (and ``resume`` is on),
        read the stage back, and record its fingerprint for the stages that
        name it as an upstream."""
        up = "+".join(f"{u}:{self.fingerprints[u]}" for u in upstreams)
        if self.resume and self.is_complete(name, self.run_id, up):
            m = self.manifest(name)
        else:
            m = self.write(name, build(), self.run_id, up)
        self.fingerprints[name] = _fingerprint(m)
        return self.read(SparkSession.active(), name)

    # -- manifest ------------------------------------------------------------
    def manifest(self, stage: str) -> dict | None:
        spark = SparkSession.active()
        p = self._manifest_path(stage)
        if not _fs_exists(spark, p):
            return None
        return json.loads(_fs_read_text(spark, p))

    def is_complete(self, stage: str, params_hash: str, upstream_hash: str = "") -> bool:
        m = self.manifest(stage)
        return (
            m is not None
            and m.get("params_hash") == params_hash
            and m.get("upstream_hash", "") == upstream_hash
            and m.get("status") == "complete"
        )

    # -- write / read --------------------------------------------------------
    def write(
        self,
        stage: str,
        df: DataFrame,
        params_hash: str,
        upstream_hash: str = "",
        partition_by: list[str] | None = None,
    ) -> dict:
        """Materialize a stage + manifest. Returns the manifest dict.

        The lineage metrics (rows + content hash) are observed DURING the
        write — one scan per stage. ``audit_lineage=True`` additionally
        re-reads the materialized output, verifies the recomputed fingerprint
        equals the observed one, and records the per-partition breakdown.
        """
        path = self.stage_dir(stage)
        spark = df.sparkSession
        # invalidate BEFORE the overwrite: a run that dies mid-write (or
        # fails a check below) must not leave the previous run's manifest
        # vouching for files this write has already clobbered
        fs, mpath, _ = _fs(spark, self._manifest_path(stage))
        fs.delete(mpath, False)
        obs = Observation()
        # Empty-string values in a STRING partition column do not round-trip:
        # the writer materializes '' as __HIVE_DEFAULT_PARTITION__ and every
        # reader parses that back as NULL, so the audit re-read would hash
        # differently from the pre-write plan (xxhash64 is NULL-sensitive) and
        # blame intact files. Counting them rides the same write scan as the
        # lineage metrics (one extra conditional sum per string partition
        # column — no second pass) so BOTH modes fail with the real cause
        # before persisting a checkpoint that cannot round-trip.
        dtypes = dict(df.dtypes)
        empty_part_cols = [
            c for c in (partition_by or []) if dtypes.get(c) == "string"
        ]
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(_row_hash(df.columns)).alias("chash"),
            *[
                F.sum(F.when(F.col(c) == "", 1).otherwise(0)).alias(f"empty_{i}")
                for i, c in enumerate(empty_part_cols)
            ],
        )
        t0 = time.time()
        writer = observed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        wall_ms = int((time.time() - t0) * 1000)
        vals = obs.get  # the write action already completed; no extra job
        output_rows = vals["rows"]
        content_hash = str(vals["chash"])

        # per-partition lineage without re-reading data: the materialized
        # part files (path relative to the stage dir + bytes) from FS
        # METADATA only — at 100 TB a listing, not a scan. The per-partition
        # CONTENT hashes need a re-read and live behind audit_lineage.
        fs, hpath, _ = _fs(spark, path)
        prefix = fs.makeQualified(hpath).toUri().getPath().rstrip("/") + "/"
        files: list[dict] = []
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().startswith("part-"):
                rel = st.getPath().toUri().getPath()[len(prefix):]
                files.append({"file": rel, "bytes": st.getLen()})
        files.sort(key=lambda x: x["file"])

        # enforced in BOTH modes, not just under audit: a checkpoint whose
        # read-back differs from what was written ('' -> NULL) would make a
        # RESUMED run silently diverge from a fresh one, and the manifest's
        # observed pre-write hash would no longer describe the on-disk data.
        # The counters already rode the write scan, so the check is free.
        for i, c in enumerate(empty_part_cols):
            n_empty = vals.get(f"empty_{i}") or 0
            if n_empty > 0:
                raise RuntimeError(
                    f"stage {stage}: partition column {c!r} has {n_empty} "
                    f"empty-string value(s) — '' is written as "
                    f"__HIVE_DEFAULT_PARTITION__ and reads back as NULL, so "
                    f"this checkpoint would not round-trip (a resumed run "
                    f"reading it would diverge from a fresh run, and the "
                    f"lineage audit's re-read hash would differ on intact "
                    f"files); coalesce '' to NULL or a sentinel before "
                    f"checkpointing, or drop the column from partition_by"
                )

        per_part: list[dict] = []
        if self.audit_lineage:
            # pin the read to the PRE-WRITE schema: parquet partition-column
            # inference would re-read a string partition value like '00' as
            # int 0 — and xxhash64 is type-sensitive, so the audit would
            # raise on perfectly intact data. A post-hoc cast back cannot
            # fix this (int 0 round-trips to '0', not the original '00');
            # supplying the schema makes Spark parse the raw directory value
            # directly into the declared type.
            written = spark.read.schema(df.schema).parquet(path)
            rh = _row_hash(written.columns)
            per_part = [
                {
                    "partition_id": r["pid"],
                    "rows": r["rows"],
                    "content_hash": str(r["chash"]),
                }
                for r in written.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count("*").alias("rows"), F.sum(rh).alias("chash"))
                .orderBy("pid").collect()
            ]
            audit_rows = sum(p["rows"] for p in per_part)
            audit_hash = str(sum(int(p["content_hash"]) for p in per_part)) if per_part else str(None)
            if audit_rows != output_rows or audit_hash != content_hash:
                raise RuntimeError(
                    f"stage {stage}: lineage audit mismatch — observed "
                    f"(rows={output_rows}, hash={content_hash}) vs materialized "
                    f"(rows={audit_rows}, hash={audit_hash}); the written files "
                    f"do not match what the plan produced"
                )

        m = {
            "stage": stage,
            "run_id": self.run_id,
            "status": "complete",
            "params_hash": params_hash,
            "upstream_hash": upstream_hash,
            "output_rows": output_rows,
            "content_hash": content_hash,
            "wall_ms": wall_ms,
            "path": path,
            "files": files,
            "partitions": per_part,
            "schema": df.schema.simpleString(),
        }
        _fs_write_text_atomic(spark, self._manifest_path(stage), json.dumps(m, indent=2))
        return m

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(self.stage_dir(stage))

    def metrics(self) -> list[dict]:
        """All stage manifests (the run's lineage/metrics sidecar table)."""
        spark = SparkSession.active()
        fs, hpath, _ = _fs(spark, self.base_dir)
        names = sorted(st.getPath().getName() for st in fs.listStatus(hpath))
        return [
            json.loads(_fs_read_text(spark, f"{self.base_dir}/{n}"))
            for n in names
            if n.endswith(MANIFEST_NAME)
        ]
