"""TableIO port — snapshot/append table storage with atomic per-cycle commits.

Production target is Iceberg (``df.writeTo(...).append()``, snapshot
isolation, partition overwrite); the Iceberg runtime jar is unavailable in
this sandbox (SURVEY.md §7.4), so the fallback backend emulates exactly the
semantics the engine uses:

  base/<table>/cycle=<N>/...parquet     one directory per committed cycle
  base/_manifest.json                   {"tables": {t: [cycles...]}, "last_cycle": N}

Commit protocol: all tables for cycle N are written first; the manifest is
rewritten LAST via write-tmp + os.replace (atomic on POSIX). A crash between
data write and manifest commit leaves orphan directories that are ignored on
read and harmlessly overwritten on replay — idempotent resume, which is the
Iceberg property the crawl loop actually relies on (BASELINE.json:
"resumable from checkpoint with per-partition lineage").

Snapshot tables (frontier/seen/host_state/seen_filter) read ONLY their
latest committed cycle; log tables (fetch_log/documents/metadata/metrics)
read the union of all committed cycles — partition pruning by ``cycle``
comes free from the directory layout.

Schema-carrying reads: every plain segment records its schema in a
``_schema.json`` sidecar (parquet readers skip ``_``-prefixed files), and
reads pass it to ``spark.read.schema(...)``. Inferring a parquet schema
reads a footer in a one-task Spark job per read; with the sidecar a read
starts no job at all. Segments written without a sidecar (older
warehouses, Hive-partitioned segments) are inferred as before.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

SNAPSHOT_TABLES = ("frontier", "seen", "host_state", "seen_filter")
SCHEMA_FILE = "_schema.json"


def _as_nullable(t: DataType) -> DataType:
    """``t`` with every field and element nullable — the form a parquet
    read reports, so segments of one table record identical schemas."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


class TableIO:
    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base
        os.makedirs(base, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.base, "_manifest.json")

    def read_manifest(self) -> dict:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"tables": {}, "last_cycle": -1}

    def commit_cycle(
        self,
        cycle: int,
        tables: list[str],
        counters: dict | None = None,
        replace: dict[str, list[int]] | None = None,
    ) -> None:
        """counters: engine scalars (total_fetches, next_disc_seq, ...)
        committed atomically WITH the cycle — replaces per-cycle count jobs
        and stays consistent on replay.

        replace: {table: [cycles]} entries OVERWRITE that table's segment
        list in the same atomic manifest swap — used by merge-table
        compaction so "new compacted segment becomes the only segment AND
        the delete log empties" is one commit, not two (a crash between
        two separate commits could otherwise resurrect stale deletes).
        Old directories are NOT removed here; call prune_orphans after."""
        m = self.read_manifest()
        for t in tables:
            cs = m["tables"].setdefault(t, [])
            if cycle not in cs:
                cs.append(cycle)
        if replace:
            for t, cs in replace.items():
                m["tables"][t] = list(cs)
        m["last_cycle"] = max(m["last_cycle"], cycle)
        if counters:
            m.setdefault("counters", {}).update(counters)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    def counters(self) -> dict:
        return self.read_manifest().get("counters", {})

    def last_committed_cycle(self) -> int:
        return self.read_manifest()["last_cycle"]

    # -- data --------------------------------------------------------------
    def _dir(self, table: str, cycle: int) -> str:
        return os.path.join(self.base, table, f"cycle={cycle}")

    def write_snapshot(
        self, df: DataFrame, table: str, cycle: int,
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
        sort_by: list[str] | None = None,
    ) -> None:
        """Uncommitted write; becomes visible only after commit_cycle.
        A plain segment (no ``partition_by``/``bucket_by``) records its
        schema in a ``_schema.json`` sidecar for the readers.

        ``partition_by`` lays the segment out as Hive-style subdirectories
        (e.g. ``bucket=<pmod(hash,N)>``) so readers filtering on those
        columns get DIRECTORY-level pruning — the parquet emulation of
        Iceberg's ``PARTITIONED BY (bucket(N, col))``. Used by the ingest
        content_seen log: the exact-confirm anti-join only reads the
        buckets its maybe-seen candidates hash into.

        ``bucket_by=(n, cols)`` (r06, VERDICT r05 item #1) additionally
        writes the segment CLUSTERED on its join key via
        ``bucketBy``/``saveAsTable`` — the mechanism
        tests/test_plans.py::test_bucketed_index_join_never_shuffles_the_index
        proves in-sandbox: probes against the segment join with ZERO
        index-side exchange (broadcast probe: zero exchanges anywhere;
        sort-merge probe: probe-side exchange only). The catalog entry is
        session-local (no metastore in the sandbox); the layout is
        recorded in a ``_bucket_layout.json`` sidecar inside the segment
        (ignored by plain parquet readers — '_' prefix) and the table is
        re-registered lazily on read in a fresh session. Iceberg mapping:
        ``PARTITIONED BY (bucket(N, key))`` + write clustering.
        """
        path = self._dir(table, cycle)
        if os.path.exists(path):  # replay after crash: idempotent overwrite
            shutil.rmtree(path)
        if bucket_by is None:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
            if not partition_by:
                with open(os.path.join(path, SCHEMA_FILE), "w") as f:
                    f.write(_as_nullable(df.schema).json())
            return
        n_files, bcols = bucket_by
        name = self._bucket_table_name(table, cycle)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        w = df.write.mode("overwrite").format("parquet").option("path", path)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w = w.bucketBy(n_files, *bcols)
        if sort_by:
            w = w.sortBy(*sort_by)
        w.saveAsTable(name)
        meta = {
            "name": name,
            "n": n_files,
            "cols": list(bcols),
            "sort": list(sort_by or []),
            "partition_by": list(partition_by or []),
            "ddl": self.spark.table(name).schema.simpleString(),
            "ddl_sql": self.spark.table(name)._jdf.schema().toDDL(),
        }
        with open(os.path.join(path, "_bucket_layout.json"), "w") as f:
            json.dump(meta, f)

    def _bucket_table_name(self, table: str, cycle: int) -> str:
        import hashlib
        import re

        tag = hashlib.md5(self.base.encode()).hexdigest()[:8]
        # cycle can be negative (bootstrap = -1) and table names arbitrary:
        # sanitize to a valid unquoted SQL identifier
        raw = f"croawl_bkt_{tag}_{table}_{cycle}".replace("-", "m")
        return re.sub(r"[^A-Za-z0-9_]", "_", raw)

    def _read_parquet(self, *dirs: str) -> DataFrame:
        """Parquet scan of ``dirs`` with the schema their sidecars record,
        when every one records the same; inferred (one Spark job) else."""
        schemas = set()
        for d in dirs:
            try:
                with open(os.path.join(d, SCHEMA_FILE)) as f:
                    schemas.add(f.read())
            except FileNotFoundError:
                schemas.add(None)
        reader = self.spark.read
        if len(schemas) == 1 and None not in schemas:
            reader = reader.schema(StructType.fromJson(json.loads(schemas.pop())))
        return reader.parquet(*dirs)

    def _segment_df(self, table: str, cycle: int) -> DataFrame:
        """One committed segment as a DataFrame — through the catalog (so
        the bucketed output partitioning is visible to the planner) when
        the segment was written ``bucket_by``, plain parquet otherwise."""
        path = self._dir(table, cycle)
        layout = os.path.join(path, "_bucket_layout.json")
        if not os.path.exists(layout):
            return self._read_parquet(path)
        with open(layout) as f:
            meta = json.load(f)
        name = meta["name"]
        if not self.spark.catalog.tableExists(name):
            # fresh session: re-register the external bucketed table from
            # the recorded layout (in-memory catalog has no persistence)
            parts = meta.get("partition_by") or []
            sort = (
                f" SORTED BY ({', '.join(meta['sort'])})" if meta.get("sort") else ""
            )
            pby = f" PARTITIONED BY ({', '.join(parts)})" if parts else ""
            self.spark.sql(
                f"CREATE TABLE {name} ({meta['ddl_sql']}) USING PARQUET"
                f"{pby} CLUSTERED BY ({', '.join(meta['cols'])}){sort} "
                f"INTO {meta['n']} BUCKETS LOCATION '{path}'"
            )
            if parts:
                self.spark.sql(f"MSCK REPAIR TABLE {name}")
        return self.spark.table(name)

    def read_snapshot(self, table: str, cycle: int | None = None) -> DataFrame:
        m = self.read_manifest()
        cycles = m["tables"].get(table, [])
        if cycle is not None:
            cycles = [c for c in cycles if c <= cycle]
        if not cycles:
            if f"{table}__adds" in m["tables"]:
                # the table is checkpointed as a merge table (tombstone
                # mode): readers get the same resolved view transparently
                return self.read_merge(table, cycle)
            raise FileNotFoundError(f"no committed snapshot for {table}")
        return self._read_parquet(self._dir(table, max(cycles)))

    def read_log(self, table: str, upto_cycle: int | None = None) -> DataFrame:
        m = self.read_manifest()
        cycles = sorted(m["tables"].get(table, []))
        if upto_cycle is not None:
            cycles = [c for c in cycles if c <= upto_cycle]
        if not cycles:
            raise FileNotFoundError(f"no committed data for {table}")
        dirs = [self._dir(table, c) for c in cycles]
        try:
            return self._read_parquet(*dirs)
        except Exception as e:
            # Hive-partitioned segments (write_snapshot partition_by=...)
            # can't share one multi-root scan; union per-segment scans
            # instead — bounded by compaction to <= compact_every branches,
            # and partition (directory) pruning still applies inside each
            # branch. ONLY that specific failure is retried: swallowing
            # arbitrary read errors (corrupt footer, permissions) here
            # would mask the real cause behind a confusing second failure.
            if "CONFLICTING_DIRECTORY_STRUCTURES" not in str(e):
                raise
            dfs = [self._segment_df(table, c) for c in cycles]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d)
            return out

    def read_log_segments(
        self, table: str
    ) -> list[tuple[DataFrame, dict | None]]:
        """All committed segments of a log table as SEPARATE
        (DataFrame, bucket_layout | None) pairs — bucketed segments come
        through the catalog, so their storage partitioning survives to
        the planner. Probe-side joins that run per segment and union the
        RESULTS keep the bucketed segment's no-index-shuffle property
        that a union-then-join would destroy — the ST7 shipping path
        (streaming/jobs.py)."""
        cycles = sorted(self.read_manifest()["tables"].get(table, []))
        if not cycles:
            raise FileNotFoundError(f"no committed data for {table}")
        out = []
        for c in cycles:
            layout = os.path.join(self._dir(table, c), "_bucket_layout.json")
            meta = None
            if os.path.exists(layout):
                with open(layout) as f:
                    meta = json.load(f)
            out.append((self._segment_df(table, c), meta))
        return out

    def compact_log(
        self, df: DataFrame, table: str, cycle: int,
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
        sort_by: list[str] | None = None,
    ) -> None:
        """Replace ALL committed segments of a log table with one compacted
        segment at ``cycle`` (maintenance path: seen-log expiry/compaction).
        The data is written to a fresh directory first and the manifest
        swap is the usual atomic rename — a crash mid-compaction leaves the
        old segments committed. Old directories are removed lazily AFTER
        the commit (orphans are harmless: reads go through the manifest).

        Iceberg mapping: REPLACE TABLE ... AS SELECT (or rewrite_data_files
        + expire_snapshots) — same read-through-metadata guarantee.
        """
        old_cycles = self.read_manifest()["tables"].get(table, [])
        # the compacted df usually READS the old segments — writing over an
        # existing segment would delete its input mid-scan
        assert cycle not in old_cycles, "compact to a fresh cycle number"
        self.write_snapshot(
            df, table, cycle, partition_by=partition_by,
            bucket_by=bucket_by, sort_by=sort_by,
        )
        m = self.read_manifest()
        m["tables"][table] = [cycle]
        m["last_cycle"] = max(m["last_cycle"], cycle)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._manifest_path)  # atomic commit point
        for c in old_cycles:
            if c != cycle:
                shutil.rmtree(self._dir(table, c), ignore_errors=True)
                # drop any stale session-catalog entry for the removed
                # bucketed segment (files are already gone)
                self.spark.sql(
                    f"DROP TABLE IF EXISTS {self._bucket_table_name(table, c)}"
                )

    # -- merge tables (append + tombstone deletes) ---------------------------
    # The Iceberg positional/equality-delete emulation (VERDICT r02 item #2):
    # a "merge table" T is two log tables, T__adds and T__dels. Per cycle the
    # engine appends O(new) add rows and O(batch) delete keys; the resolved
    # view is adds MINUS dels under a cycle-aware anti-join. This turns the
    # frontier checkpoint from an O(frontier) rewrite per cycle into an
    # O(batch + new) append — the only remaining per-cycle O(corpus) write
    # at the 10^10-URL design point. Iceberg mapping: MERGE INTO /
    # positional delete files; compaction = rewrite_data_files.

    def write_merge_delta(
        self,
        adds: DataFrame | None,
        dels: DataFrame | None,
        table: str,
        cycle: int,
        key_cols: list[str] | None = None,
    ) -> list[str]:
        """Uncommitted write of one cycle's delta; include the returned
        table names in commit_cycle. ``_mseq`` (the writing cycle) is
        stamped on both sides so the resolver can order adds vs deletes."""
        written: list[str] = []
        if adds is not None:
            self.write_snapshot(
                adds.withColumn("_mseq", F.lit(cycle).cast("long")),
                f"{table}__adds",
                cycle,
            )
            written.append(f"{table}__adds")
        if dels is not None:
            cols = key_cols or dels.columns
            self.write_snapshot(
                dels.select(*cols).withColumn("_mseq", F.lit(cycle).cast("long")),
                f"{table}__dels",
                cycle,
            )
            written.append(f"{table}__dels")
        return written

    def read_merge(self, table: str, upto_cycle: int | None = None) -> DataFrame:
        """Resolved view: adds minus tombstones. A delete at cycle d kills
        only rows ADDED STRICTLY BEFORE d (del._mseq > add._mseq): a key
        deleted at d and legitimately re-added at a later cycle — or at d
        itself, which is how the crawl's rediscovery-after-expiry composes
        with same-cycle fetches — survives. The delete side is tiny
        (O(cycles-since-compaction × batch)), so AQE resolves this as a
        broadcast anti-join: no shuffle of the adds side at read time."""
        adds = self.read_log(f"{table}__adds", upto_cycle)
        try:
            dels = self.read_log(f"{table}__dels", upto_cycle)
        except FileNotFoundError:
            return adds.drop("_mseq")
        key_cols = [c for c in dels.columns if c != "_mseq"]
        d = dels.select(
            *[F.col(c).alias(f"_d_{c}") for c in key_cols],
            F.col("_mseq").alias("_d_mseq"),
        )
        cond = F.col(f"_d_{key_cols[0]}") == F.col(key_cols[0])
        for c in key_cols[1:]:
            cond = cond & (F.col(f"_d_{c}") == F.col(c))
        cond = cond & (F.col("_d_mseq") > F.col("_mseq"))
        return adds.join(d, cond, "left_anti").drop("_mseq")

    def prune_orphans(self, table: str) -> None:
        """Remove segment directories no longer referenced by the manifest
        (lazy cleanup after a replace-commit; orphans are harmless because
        every read goes through the manifest)."""
        live = set(self.read_manifest()["tables"].get(table, []))
        root = os.path.join(self.base, table)
        if not os.path.isdir(root):
            return
        for name in os.listdir(root):
            if name.startswith("cycle="):
                try:
                    c = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if c not in live:
                    shutil.rmtree(os.path.join(root, name), ignore_errors=True)

    def destroy(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)


class IcebergTableIO:
    """Production backend of the same port over Apache Iceberg.

    NOT exercisable in this sandbox (no Iceberg runtime jar, no network to
    fetch one — SURVEY.md §7.4); the code documents the production mapping
    so deployment is a config change, not a redesign:

      * snapshot tables  -> ``df.writeTo(tbl).overwritePartitions()`` with a
        ``cycle`` partition column; read picks the latest committed cycle
      * log tables       -> ``df.writeTo(tbl).append()`` partitioned by
        ``cycle`` (partition pruning replaces the directory unions)
      * frontier/seen    -> ``PARTITIONED BY (bucket(N, url_hash))`` so the
        anti-join and the AMQ probe co-partition storage-side (SPJ can then
        eliminate the shuffle entirely)
      * manifest         -> Iceberg's own snapshot log; `counters` ride as
        snapshot summary properties; atomicity comes from the Iceberg commit
      * resume           -> read the last snapshot's summary instead of
        _manifest.json
    """

    def __init__(self, spark: SparkSession, catalog: str, db: str):
        self.spark = spark
        self.ns = f"{catalog}.{db}"
        try:
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")
        except Exception as e:  # pragma: no cover — sandbox has no Iceberg
            raise RuntimeError(
                "Iceberg runtime not available; use TableIO (parquet+manifest)"
            ) from e

    def write_snapshot(self, df: DataFrame, table: str, cycle: int) -> None:
        tbl = f"{self.ns}.{table}"
        df = df.withColumn("cycle", F.lit(cycle))
        if table in SNAPSHOT_TABLES:
            df.writeTo(tbl).overwritePartitions()
        else:
            df.writeTo(tbl).append()

    def read_snapshot(self, table: str, cycle: int | None = None) -> DataFrame:
        t = self.spark.table(f"{self.ns}.{table}")
        target = t.agg(F.max("cycle")).collect()[0][0] if cycle is None else cycle
        return t.filter(F.col("cycle") == target).drop("cycle")

    def read_log(self, table: str, upto_cycle: int | None = None) -> DataFrame:
        t = self.spark.table(f"{self.ns}.{table}")
        return t if upto_cycle is None else t.filter(F.col("cycle") <= upto_cycle)
