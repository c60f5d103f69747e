"""Stage checkpointing with per-partition lineage + metrics and resume.

North-rule requirement: "checkpoints each stage (blocking output, scored
pairs, component labels) ... with per-partition lineage and metrics so any
stage is resumable". Each stage is a Parquet directory plus a JSON manifest
carrying the lineage columns (rows, content hash, part files, schema, params
and upstream hashes). ``StageCheckpointer.stage`` is the one stage runner:
both ``plans/pipeline.run_pipeline`` and ``run_profile`` drive their DAGs
through it.

The manifest is the stage's one handle. ``read`` is the only reader of a
stage directory and pins the schema the manifest records, so a read-back
runs no Parquet schema-inference job. The checkpointer keeps every manifest
it wrote, resumed or read back, and ``metrics()`` returns those in run order
(another run's manifests in the same work dir are not listed).

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
from pyspark.sql.types import DataType

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
    list (the pinned stage content hashes depend on that order), summed in
    decimal so the total cannot overflow under ANSI mode.
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


def _complete(m: dict | None, params_hash: str, upstream_hash: str) -> bool:
    return (
        m is not None
        and m.get("params_hash") == params_hash
        and m.get("upstream_hash", "") == upstream_hash
        and m.get("status") == "complete"
    )


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
        # this run's manifests in run order: written, resumed or read back
        self._manifests: dict[str, dict] = {}
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
        m = self.manifest(name) if self.resume else None
        if _complete(m, self.run_id, up):
            self._manifests[name] = m
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
        return _complete(self.manifest(stage), params_hash, upstream_hash)

    # -- write / read --------------------------------------------------------
    def write(
        self, stage: str, df: DataFrame, params_hash: str, upstream_hash: str = ""
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
        self._manifests.pop(stage, None)
        fs, mpath, _ = _fs(spark, self._manifest_path(stage))
        fs.delete(mpath, False)
        obs = Observation()
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(_row_hash(df.columns)).alias("chash"),
        )
        t0 = time.time()
        observed.write.mode("overwrite").parquet(path)
        wall_ms = int((time.time() - t0) * 1000)
        vals = obs.get  # the write action already completed; no extra job

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

        m = {
            "stage": stage,
            "run_id": self.run_id,
            "status": "complete",
            "params_hash": params_hash,
            "upstream_hash": upstream_hash,
            "output_rows": vals["rows"],
            "content_hash": str(vals["chash"]),
            "wall_ms": wall_ms,
            "path": path,
            "files": files,
            "partitions": [],
            "schema": df.schema.simpleString(),
        }
        # kept before the audit, whose re-read goes through read(); dropped
        # again unless the manifest commits
        self._manifests[stage] = m
        try:
            if self.audit_lineage:
                m["partitions"] = self._audit(spark, m)
            _fs_write_text_atomic(spark, self._manifest_path(stage), json.dumps(m, indent=2))
        except BaseException:
            del self._manifests[stage]
            raise
        return m

    def _audit(self, spark: SparkSession, m: dict) -> list[dict]:
        """Per-partition rows + content hashes recomputed from the written
        files; raises unless they add up to the observed fingerprint."""
        written = self.read(spark, m["stage"])
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
        if audit_rows != m["output_rows"] or audit_hash != m["content_hash"]:
            raise RuntimeError(
                f"stage {m['stage']}: lineage audit mismatch — observed "
                f"(rows={m['output_rows']}, hash={m['content_hash']}) vs "
                f"materialized (rows={audit_rows}, hash={audit_hash}); the "
                f"written files do not match what the plan produced"
            )
        return per_part

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        """The one reader of a stage directory. It pins the schema the
        stage's manifest records (Parquet schema inference would cost a
        Spark job per read). A stage this run has not written or resumed is
        looked up on disk and then kept like one."""
        if stage not in self._manifests:
            m = self.manifest(stage)
            if m is None:
                raise FileNotFoundError(f"stage {stage}: no manifest under {self.base_dir}")
            self._manifests[stage] = m
        schema = DataType.fromDDL(self._manifests[stage]["schema"])
        return spark.read.schema(schema).parquet(self.stage_dir(stage))

    def metrics(self) -> list[dict]:
        """This run's stage manifests in run order (the lineage/metrics
        sidecar table)."""
        return list(self._manifests.values())
