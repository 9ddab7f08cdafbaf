"""Checkpoint/resume + per-partition lineage (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

Production design (documented, SURVEY.md §4.2): the results table is Iceberg
and resume is ``MERGE INTO results ... WHEN NOT MATCHED INSERT`` keyed on
url — idempotent, transactional, partition-prunable.  This sandbox has no
Iceberg runtime jar, so the same semantics are implemented on plain parquet:

* the results dir is an append-only set of ``chunk=<n>`` subdirs (each an
  atomic parquet write);
* resume anti-joins the source against already-written urls (the MERGE
  NOT-MATCHED condition) before running the parse — a killed run re-does at
  most the in-flight chunk;
* every chunk also appends a ``_lineage`` row set: (chunk, partition_id,
  url_count, byte_count, error_count) captured DISTRIBUTED via
  ``spark_partition_id()`` — no driver-side counting.

The anti-join is broadcast when the done-set is small, shuffle otherwise —
left to AQE; urls are unique so there is no skew.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


class CheckpointedExtraction:
    """Caller contract: resume assumes the SAME ``transform`` (and its
    config) across runs against one ``results_dir`` — the anti-join skips
    done urls, so rows written under a different transform would survive
    unnoticed.  Callers that expose config flags must bind them to the
    directory and clear it on mismatch (jobs/extract_job.py pins a
    ``_RESUME_CONFIG.json``; jobs/flagship_job.py folds stage config into
    its marker and wipes the stage dir when only the config changed)."""

    def __init__(self, spark: SparkSession, results_dir: str):
        self.spark = spark
        self.results_dir = results_dir
        self.data_dir = os.path.join(results_dir, "data")
        self.lineage_dir = os.path.join(results_dir, "_lineage")

    # -- state -------------------------------------------------------------
    def done_urls(self) -> DataFrame | None:
        if not os.path.isdir(self.data_dir):
            return None
        try:
            return self.spark.read.parquet(self.data_dir).select("url")
        except Exception:
            return None

    def _next_chunk(self) -> int:
        if not os.path.isdir(self.data_dir):
            return 0
        chunks = [
            int(d.split("=", 1)[1])
            for d in os.listdir(self.data_dir)
            if d.startswith("chunk=")
        ]
        return max(chunks) + 1 if chunks else 0

    # -- the resumable run --------------------------------------------------
    def run(
        self,
        pages: DataFrame,
        num_partitions: int = 64,
        max_html_bytes: int | None = None,
        transform=None,
    ) -> dict:
        """Process every page not yet in the results table; returns metrics.
        Idempotent: re-running after a kill completes the remainder.

        ``transform`` (pages → results, must keep ``url`` and emit
        ``n_bytes_in``) swaps the dictionary-extraction kernel for another
        per-page map — the --main-content boilerplate strip uses this, so
        BOTH extraction modes share one checkpoint/lineage contract.
        Lineage error/entry counters degrade gracefully when the transform
        has no such columns."""
        from html_parser_spark.spark.pipeline import extract_pages

        done = self.done_urls()
        todo = pages
        if done is not None:
            todo = pages.join(done, on="url", how="left_anti")
        if transform is None:
            results = extract_pages(
                todo, num_partitions=num_partitions, max_html_bytes=max_html_bytes
            )
        else:
            results = transform(todo)
        chunk = self._next_chunk()
        out = results.withColumn("part_id", F.spark_partition_id())
        chunk_path = os.path.join(self.data_dir, f"chunk={chunk}")
        out.write.mode("overwrite").parquet(chunk_path)

        written = self.spark.read.parquet(chunk_path)
        has_err = "error" in written.columns
        lineage = written.groupBy("part_id").agg(
            F.lit(chunk).alias("chunk"),
            F.count("*").alias("url_count"),
            F.sum("n_bytes_in").alias("byte_count"),
            (
                F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
                if has_err else F.lit(0).cast("long")
            ).alias("error_count"),
        )
        lineage.write.mode("append").parquet(self.lineage_dir)
        n_entries = (
            F.sum("n_entries") if "n_entries" in written.columns
            else F.lit(0).cast("long")
        )
        row = written.agg(
            F.count("*").alias("docs"), n_entries.alias("entries")
        ).collect()[0]
        return {"chunk": chunk, "docs": row["docs"], "entries": row["entries"] or 0}

    def results(self) -> DataFrame:
        return self.spark.read.parquet(self.data_dir)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_dir)


# --- the real Iceberg path (SURVEY.md §4.2 / SCALE.md) ---------------------
#
# The sandbox has no iceberg-spark-runtime jar, so this class cannot execute
# here; it is the production implementation the parquet analog above stands
# in for, kept import-clean and unit-tested wherever a jar IS present
# (tests skip, not fake, without one).


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg SparkCatalog class is loadable in this JVM."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class IcebergCheckpointedExtraction:
    """Resume via real ``MERGE INTO`` on an Iceberg results table.

    Identical semantics to :class:`CheckpointedExtraction` (idempotent
    NOT-MATCHED insert keyed on url, distributed per-partition lineage), but
    transactional: a killed run loses at most the uncommitted snapshot, and
    time travel / snapshot expiry come from the table format.

    Session prerequisites (cluster-side, spark-defaults or builder):
        spark.sql.catalog.<cat>=org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.<cat>.type=hive|hadoop|rest
    """

    def __init__(self, spark: SparkSession, table: str, lineage_table: str | None = None):
        self.spark = spark
        self.table = table
        self.lineage_table = lineage_table or f"{table}_lineage"

    def ensure_tables(self) -> None:
        # partition spec per SCALE.md: temporal pruning + bounded file counts
        self.spark.sql(
            f"""CREATE TABLE IF NOT EXISTS {self.table} (
                url STRING, warc_ts TIMESTAMP, lang STRING, fmt STRING,
                extracted_text STRING,
                entries ARRAY<STRUCT<spelling: STRING, inflection: STRING,
                                     definitions: ARRAY<STRING>>>,
                n_entries INT, n_bytes_in BIGINT, error STRING)
                USING iceberg
                PARTITIONED BY (days(warc_ts), bucket(1024, url))"""
        )
        self.spark.sql(
            f"""CREATE TABLE IF NOT EXISTS {self.lineage_table} (
                snapshot_hint STRING, part_id INT, url_count BIGINT,
                byte_count BIGINT, error_count BIGINT)
                USING iceberg"""
        )

    def _latest_snapshot_id(self) -> str:
        snap = self.spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return str(snap[0][0]) if snap else "none"

    def run(
        self,
        pages: DataFrame,
        num_partitions: int = 64,
        max_html_bytes: int | None = None,
    ) -> dict:
        from html_parser_spark.spark.pipeline import extract_pages

        self.ensure_tables()
        # Resume = left-anti against the urls already committed, exactly like
        # the parquet analog: MERGE's NOT-MATCHED alone would dedupe the
        # *writes* but only after paying the full parse on every re-run —
        # at crawl scale the parse IS the cost, so prune before the kernel.
        todo = pages.join(
            self.spark.table(self.table).select("url"), on="url", how="left_anti"
        )
        results = extract_pages(
            todo, num_partitions=num_partitions, max_html_bytes=max_html_bytes
        ).withColumn("part_id", F.spark_partition_id())
        # Materialize the parse ONCE into a staging table; both the MERGE and
        # the lineage INSERT then read the staged rows, so the Arrow-UDF
        # kernel executes a single time per run and part_id is stable across
        # the two statements (an uncached temp view would re-run the whole
        # extraction for each consumer).  The staging name is per-run unique
        # (uuid suffix) so concurrent runs against the same target can't
        # clobber each other mid-MERGE, and the drop sits in try/finally so a
        # crash between MERGE and cleanup doesn't strand the table.
        staging = f"{self.table}_staging_{uuid.uuid4().hex[:12]}"
        try:
            results.writeTo(staging).using("iceberg").createOrReplace()

            before = self._latest_snapshot_id()
            self.spark.sql(
                f"""MERGE INTO {self.table} t
                    USING (SELECT url, warc_ts, lang, fmt, extracted_text, entries,
                                  n_entries, CAST(n_bytes_in AS BIGINT) AS n_bytes_in,
                                  error
                           FROM {staging}) s
                    ON t.url = s.url
                    WHEN NOT MATCHED THEN INSERT *"""
            )
            after = self._latest_snapshot_id()
            # the hint names the MERGE's own commit; if MERGE inserted nothing a
            # new snapshot may not exist — record 'noop' rather than mislabeling
            # an unrelated earlier snapshot
            snap_id = after if after != before else "noop"
            # staged rows are exactly the urls this run parsed (post anti-join),
            # so lineage counts cover this run only — no overcount on resume
            self.spark.sql(
                f"""INSERT INTO {self.lineage_table}
                    SELECT '{snap_id}' AS snapshot_hint, part_id,
                           count(*) AS url_count,
                           sum(n_bytes_in) AS byte_count,
                           sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END)
                             AS error_count
                    FROM {staging} GROUP BY part_id"""
            )
            new_row = self.spark.table(staging).agg(
                F.count("*").alias("docs"), F.sum("n_entries").alias("entries")
            ).collect()[0]
            row = self.spark.table(self.table).agg(
                F.count("*").alias("docs"), F.sum("n_entries").alias("entries")
            ).collect()[0]
        finally:
            self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
        return {
            "snapshot": snap_id,
            "docs": row["docs"],
            "entries": row["entries"] or 0,
            "docs_new": new_row["docs"],
            "entries_new": new_row["entries"] or 0,
        }

    def expire_snapshots(self, older_than_days: int = 7) -> None:
        import datetime

        cutoff = (
            datetime.datetime.now(datetime.timezone.utc)
            - datetime.timedelta(days=older_than_days)
        ).strftime("%Y-%m-%d %H:%M:%S")
        catalog = self.table.split(".", 1)[0]
        self.spark.sql(
            f"CALL {catalog}.system.expire_snapshots("
            f"table => '{self.table}', older_than => TIMESTAMP '{cutoff}')"
        )
