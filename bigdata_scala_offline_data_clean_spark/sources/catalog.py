"""Table sources: layered warehouse + driver testdata loaders.

The reference reads Hive tables in three ways (SURVEY.md §2.1):

- S1  ``SELECT * FROM ods.t WHERE etl_date='...'``   (SimpleDataCleanUtils.scala:20)
- S2  rename-projected scan of the latest partition  (OrderMasterDataClean.scala:42-73)
- S3  ``sparkSession.table("dwd.dim_customer_inf")`` (CustomerAddrLevelAggrDataClean.scala:23-25)

and discovers "latest" either with a driver-side scalar fetch (S12/A1,
SimpleDataCleanUtils.scala:19) or an uncorrelated scalar subquery (A2,
OrderMasterDataClean.scala:70-71).

Here the warehouse is a path convention ``<root>/<layer>/<table>`` of parquet
partitioned by ``etl_date`` -- the Spark-native stand-in for the reference's
Hive metastore.  Partition pruning is automatic: ``.where(etl_date == lit)``
on a ``partitionBy("etl_date")`` layout prunes directories at planning time,
exactly what the reference's inlined literal achieved manually.

Scale notes
-----------
- ``latest_partition`` lists partitions from the file index (metadata-only;
  no data scan) instead of the reference's full-table ``SELECT MAX(etl_date)``
  -- at 100 TB the reference's approach scans every partition's footer; ours
  reads only the directory listing.
- All reads are lazy DataFrames; column pruning and predicate pushdown reach
  the parquet scan via Catalyst (verify with ``.explain`` -> PushedFilters).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ordering import pin_frame

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _normalize_times(df: DataFrame) -> DataFrame:
    """TIMESTAMP_NTZ -> TIMESTAMP_LTZ (UTC sessions: same wall clock).

    The driver testdata ships parquet timestamp[us] without the UTC flag,
    which Spark 4 reads as TIMESTAMP_NTZ; streaming watermarks and
    time-partition writers expect the LTZ type.
    """
    from pyspark.sql import functions as F

    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver-generated testdata table (TESTDATA.md)."""
    # un-flagged timestamp[us] reads as LTZ directly under this conf --
    # no cast projection between filters and the scan (pushdown survives);
    # _normalize_times stays as the fallback for pre-set sessions
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return _normalize_times(
        spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    )


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            load_testdata(spark, sf_dir, t).createOrReplaceTempView(t)


class Warehouse:
    """Layered parquet warehouse: ``<root>/<layer>/<table>/etl_date=.../``.

    Replaces the reference's Hive metastore + HDFS layout
    (Constants.scala:6-12) with a location-addressed catalog that needs no
    external service.  ``etl_date`` is a string partition column in
    ``yyyyMMdd`` form, as in the reference.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, layer: str, table: str) -> str:
        return os.path.join(self.root, layer, table)

    # -- filesystem (Hadoop FS API -- works for file:/, hdfs:/, s3a:/ roots,
    #    unlike os.listdir which silently breaks off the driver-local disk) --

    def _fs_and_path(self, path: str):
        jvm = self.spark._jvm
        jsc = self.spark._jsc
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
        return fs, hpath

    def exists(self, layer: str, table: str) -> bool:
        fs, hpath = self._fs_and_path(self.path(layer, table))
        return bool(fs.exists(hpath))

    # -- reads ------------------------------------------------------------

    def table(self, layer: str, table: str) -> DataFrame:
        """S3: whole-table read by name."""
        return self.spark.read.parquet(self.path(layer, table))

    def partition(self, layer: str, table: str, etl_date: str) -> DataFrame:
        """S1: one-partition scan; Catalyst prunes to the single directory."""
        return self.table(layer, table).where(F.col("etl_date") == etl_date)

    def latest_partition(self, layer: str, table: str) -> str | None:
        """A1/S12: latest etl_date.

        Metadata-only -- lists partition directory names through the Hadoop
        FileSystem API (so HDFS/S3 warehouse roots work, not just the driver
        disk), never scanning data.  The reference's ``SELECT MAX(etl_date)``
        + ``.collect()(0)(0)`` (SimpleDataCleanUtils.scala:19) reads rows;
        at 100 TB that touches every partition's footer -- this touches none.
        Falls back to ``max(etl_date)`` over the DataFrame if the listing is
        unavailable (e.g. object stores without directory semantics).
        """
        try:
            fs, hpath = self._fs_and_path(self.path(layer, table))
            if not fs.exists(hpath):
                return None
            parts = []
            for status in fs.listStatus(hpath):
                name = status.getPath().getName()
                if name.startswith("etl_date="):
                    parts.append(name.split("=", 1)[1])
            if parts:
                return max(parts)
            return None
        except Exception:
            if not self.exists(layer, table):
                return None
            row = self.table(layer, table).agg(F.max("etl_date")).first()
            return row[0] if row else None

    def latest(self, layer: str, table: str) -> DataFrame:
        """Latest-partition scan (the reference's two-step fetch, fused)."""
        p = self.latest_partition(layer, table)
        if p is None:
            # empty table with correct behaviour for first-run pipelines
            raise FileNotFoundError(f"no partitions in {layer}.{table}")
        return self.partition(layer, table, p)

    # -- writes (S8-S10) ----------------------------------------------------

    def append(self, df: DataFrame, layer: str, table: str) -> None:
        """S8: append into a partitioned table (insertInto semantics)."""
        df.write.mode("append").partitionBy("etl_date").parquet(
            self.path(layer, table)
        )

    def overwrite_partitions(self, df: DataFrame, layer: str, table: str) -> None:
        """S9: dynamic-partition overwrite -- replaces only the partitions
        present in ``df`` (session conf partitionOverwriteMode=dynamic
        mirrors hive.exec.dynamic.partition, SparkSessionBuilder.scala:15-16).
        """
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("etl_date").parquet(self.path(layer, table))

    def overwrite_table(self, df: DataFrame, layer: str, table: str) -> None:
        """S10: create-or-replace whole table
        (CustomerAddrLevelAggrDataClean.scala:41-44)."""
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "static"
        ).partitionBy("etl_date").parquet(self.path(layer, table))

    # -- versioned (time-travel) tables -------------------------------------

    def write_version(self, df: DataFrame, layer: str, table: str) -> int:
        """Immutable snapshot write: each call lands a new ``_v=N``
        directory and never mutates prior versions -- the Iceberg/Delta
        snapshot idea reduced to its storage essence.  Readers pin a
        version for reproducible training runs (the dataset a model was
        trained on stays readable forever); writers never block readers
        because nothing is rewritten in place.  Returns the new version.
        """
        n = (self.latest_version(layer, table) or 0) + 1
        df.write.mode("errorifexists").parquet(
            os.path.join(self.path(layer, table), f"_v={n}")
        )
        return n

    def list_versions(self, layer: str, table: str) -> list[int]:
        fs, hpath = self._fs_and_path(self.path(layer, table))
        if not fs.exists(hpath):
            return []
        out = []
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if name.startswith("_v="):
                out.append(int(name[3:]))
        return sorted(out)

    def latest_version(self, layer: str, table: str) -> int | None:
        vs = self.list_versions(layer, table)
        return vs[-1] if vs else None

    def read_version(
        self, layer: str, table: str, version: int | None = None
    ) -> DataFrame:
        """Time-travel read: a specific snapshot, or the latest."""
        v = version if version is not None else self.latest_version(layer, table)
        if v is None:
            raise ValueError(f"no versions of {layer}.{table}")
        return self.spark.read.parquet(
            os.path.join(self.path(layer, table), f"_v={v}")
        )

    # -- physical-layout management (the knobs that matter at 100 TB) -------

    def write_bucketed(
        self,
        df: DataFrame,
        layer: str,
        table: str,
        bucket_cols: list[str],
        buckets: int = 32,
        sort_cols: list[str] | None = None,
        mode: str = "overwrite",
    ) -> str:
        """Write a hash-bucketed (optionally sorted) table; returns the
        catalog name (``<layer>_<table>``).

        Two tables bucketed on their join key with the same bucket count
        join with ZERO exchanges -- the shuffle is paid once at write time
        and amortized over every subsequent join/aggregate on that key.
        That is the difference between re-shuffling a 100 TB fact table per
        query and never shuffling it again.  Bucketing requires the catalog
        (``saveAsTable``) because bucket metadata lives there, not in the
        parquet footer; the files still land under the warehouse path.

        ``mode="append"`` (round 14) is the incremental-index absorb
        step: new rows land in additional files per bucket under the
        SAME spec, so later joins still ride it -- how c70's band index
        absorbs each day's accepted delta without a rebuild.

        ``df`` may belong to another session (a streaming micro-batch
        runs in a clone of the query's session), whose write leaves this
        warehouse's session reading the table's old file listing.  The
        table is refreshed in ``self.spark`` after every write, so the
        next :meth:`bucketed_table` sees the rows just written.
        """
        name = f"{layer}_{table}"
        writer = (
            df.write.mode(mode)
            .format("parquet")
            .bucketBy(buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.option("path", self.path(layer, table)).saveAsTable(name)
        self.spark.catalog.refreshTable(name)
        return name

    def bucketed_table(self, layer: str, table: str) -> DataFrame:
        """Read back a bucketed table through the catalog (the path-based
        reader would drop the bucket spec and reintroduce the shuffle)."""
        return self.spark.table(f"{layer}_{table}")

    # -- persisted-index lifecycle: erasure + maintenance (round 15) --------
    #
    # The incremental indexes (c69 IVF cells, c70/c72 band tables) had
    # build/serve/absorb; these add the two missing verbs a 100 TB corpus
    # under retention/GDPR needs: DELETE (erase documents from the index
    # without a rebuild) and COMPACT (fold the absorb-append file
    # generations -- and any applied tombstones -- back into one file set
    # per bucket before small-file overhead creeps into every serve).

    def tombstones_path(self, layer: str, table: str) -> str:
        return self.path(layer, f"{table}__tombstones")

    def append_tombstones(
        self, ids: DataFrame, layer: str, table: str, id_col: str = "doc_id"
    ) -> None:
        """Merge-on-read DELETE for a bucketed index: record the erased
        ids in a side table instead of rewriting any index file.

        The Delta/Iceberg deletion-vector idea reduced to its storage
        essence: erasure is O(|erased|) -- an append of bare ids -- and
        the cost of honoring it moves to read time
        (:meth:`read_bucketed_live`'s broadcast anti-join), where it is
        O(index scan) but adds ZERO exchanges.  Physical removal happens
        at the next :meth:`compact_bucketed`."""
        ids.select(id_col).write.mode("append").parquet(
            self.tombstones_path(layer, table)
        )

    def tombstones(self, layer: str, table: str) -> DataFrame | None:
        """The pending (not-yet-compacted) tombstone ids, or None."""
        p = self.tombstones_path(layer, table)
        fs, hpath = self._fs_and_path(p)
        if not fs.exists(hpath):
            return None
        return self.spark.read.parquet(p)

    def read_bucketed_live(
        self, layer: str, table: str, id_col: str = "doc_id"
    ) -> DataFrame:
        """The bucketed table MINUS pending tombstones -- what every
        serve path reads.

        The tombstone set is small by construction (erasure requests,
        not data volume), so the anti-join is an explicit broadcast:
        a BroadcastHashJoin(LeftAnti) streams the bucketed scan through
        unchanged and PRESERVES its output partitioning -- downstream
        joins on the bucket key still plan zero index-side exchanges
        (pytest-pinned: tests/test_round15.py)."""
        t = self.bucketed_table(layer, table)
        ts = self.tombstones(layer, table)
        if ts is None:
            return t
        # no distinct on the build side: a LeftAnti hashed relation
        # tolerates duplicate keys, and the dedup would shuffle the
        # tombstone table on every serve for nothing
        return t.join(F.broadcast(ts.select(id_col)), id_col, "left_anti")

    def data_file_count(self, layer: str, table: str) -> int:
        """Parquet data files currently under the table path (metadata
        only -- the FS listing, never a scan).  Each absorb appends one
        file generation per bucket, so this creeping up is the
        compaction trigger signal (the c40 planner's census, wired to
        the live table)."""
        fs, hpath = self._fs_and_path(self.path(layer, table))
        if not fs.exists(hpath):
            return 0
        return sum(
            1
            for st in fs.listStatus(hpath)
            if st.getPath().getName().endswith(".parquet")
        )

    def compact_bucketed(
        self,
        layer: str,
        table: str,
        bucket_cols: list[str],
        buckets: int = 32,
        sort_cols: list[str] | None = None,
        id_col: str = "doc_id",
    ) -> None:
        """Maintenance rewrite: fold all absorb-append generations into
        ONE file set per bucket under the SAME bucket spec, physically
        dropping tombstoned rows, then clear the applied tombstones.

        Serve output is identical before/after (pytest-pinned); what
        changes is the physical layout -- per-bucket file count back to
        1 and the anti-join gone.  The rewrite reads the table it
        replaces, so the live rows are frozen executor-side first
        (an eager :func:`~..operators.ordering.pin_frame`) -- never a
        driver materialization.  The frozen rows are then
        repartitioned INTO the bucket layout (``repartition(buckets,
        cols)`` hashes exactly like the bucket spec), so each write task
        holds exactly one bucket and the table lands at ONE file per
        bucket -- builds and absorbs write whatever task layout they
        have; this is the defragmenter.  At 100 TB this is the scheduled
        off-peak job the c40 planner sizes; the bucket spec is
        unchanged, so serves before and after plan identically.

        Durability caveat (ADVICE r15): the rewrite overwrites the
        table it read, protected only by the pin.  With no checkpoint
        dir set the pin's blocks live in NON-REPLICATED executor storage
        -- an executor loss between the overwrite's delete and rewrite
        loses the index with no recovery path, unlike the Delta/Iceberg
        snapshot swap this emulates.  With a checkpoint dir set the pin
        is a replicated checkpoint and the frozen rows survive the loss;
        a failure of the write itself still leaves no old snapshot to
        fall back to.  A production deployment sets the dir, schedules
        the rewrite off-peak with the source corpus retained, or writes
        to a temp table and swaps (the plain-parquet catalog here has no
        atomic rename-over-table, so the swap variant is deliberately
        not faked)."""
        live = pin_frame(
            self.read_bucketed_live(layer, table, id_col), eager=True
        )
        self.write_bucketed(
            live.repartition(buckets, *[F.col(c) for c in bucket_cols]),
            layer, table, bucket_cols, buckets, sort_cols,
            mode="overwrite",
        )
        fs, hpath = self._fs_and_path(self.tombstones_path(layer, table))
        if fs.exists(hpath):
            fs.delete(hpath, True)

    def maybe_compact_bucketed(
        self,
        layer: str,
        table: str,
        bucket_cols: list[str],
        buckets: int = 32,
        sort_cols: list[str] | None = None,
        id_col: str = "doc_id",
        max_files_per_bucket: int = 4,
    ) -> tuple[bool, int, int]:
        """Threshold-triggered :meth:`compact_bucketed`: compacts when
        the file census exceeds ``max_files_per_bucket`` per bucket OR
        tombstones are pending.  Returns (compacted, files_before,
        files_after)."""
        before = self.data_file_count(layer, table)
        pending = self.tombstones(layer, table) is not None
        if before <= buckets * max_files_per_bucket and not pending:
            return False, before, before
        self.compact_bucketed(
            layer, table, bucket_cols, buckets, sort_cols, id_col
        )
        return True, before, self.data_file_count(layer, table)

    def erase_partition_rows(
        self,
        layer: str,
        table: str,
        part_col: str,
        erase_ids: DataFrame,
        id_col: str,
    ) -> list:
        """Physical GDPR delete from a partition-laid-out table (the c69
        IVF index's ``cell=N`` layout), touching ONLY the partitions that
        contain erased rows.

        Three bounded steps: (1) a left-semi probe finds the affected
        partition values (driver fetch of at most |partitions| values --
        the scan itself partition-prunes nothing here, but at 100 TB the
        erase set is tiny and broadcast); (2) ONLY those partitions are
        re-read (planning-time partition pruning -- the IN-list is a plan
        literal) and rewritten minus the erased ids via dynamic-partition
        overwrite; (3) an affected partition left with ZERO survivors is
        absent from the dynamic overwrite (which only replaces partitions
        present in the frame), so its directory is removed explicitly.
        Untouched partitions keep their exact files (pytest-pinned by
        file listing).  Returns the affected partition values.

        The rewrite hash-repartitions on ``part_col`` first (round 17),
        so each surviving affected partition lands as exactly ONE file
        -- the erase verb must not itself fragment the cells it touches
        (the pre-fix write used whatever task layout the anti-join
        left, scattering a rewritten cell across many small files), and
        the deterministic file count is what lets a first-principles
        audit (c77) derive the post-erase census.

        Restricted to INTEGRAL partition columns (ADVICE r15): step (3)
        reconstructs the emptied partition's directory name as
        ``{part_col}={v}`` from the read-back typed value, but Spark
        ESCAPES special characters in partition directory names on
        write, so for string/date values the reconstructed name can
        miss the real directory and the fully-erased partition would
        keep serving stale rows.  Integer values render identically in
        both directions; anything else raises.  Shares
        :meth:`compact_bucketed`'s non-atomic-overwrite durability
        caveat (eager-pin freeze, no snapshot swap)."""
        path = self.path(layer, table)
        t = self.spark.read.parquet(path)
        part_type = dict(t.dtypes).get(part_col)
        if part_type not in ("tinyint", "smallint", "int", "bigint"):
            raise NotImplementedError(
                f"erase_partition_rows requires an integral partition "
                f"column; {part_col!r} is {part_type!r} (directory-name "
                "reconstruction would not survive Spark's partition-value "
                "escaping)"
            )
        # the dtype alone cannot catch a STRING source column holding
        # zero-padded numerics ('07' infers as int 7 but lives in
        # cell=07) or a NULL partition -- verify every directory name
        # round-trips before touching anything (review r16)
        self._integral_partition_dirs(layer, table, part_col)
        eids = F.broadcast(erase_ids.select(id_col).distinct())
        affected = sorted(
            r[0]
            for r in t.join(eids, id_col, "left_semi")
            .select(part_col)
            .distinct()
            .collect()
        )
        if not affected:
            return []
        kept = pin_frame(  # freeze: we overwrite our source
            t.where(F.col(part_col).isin(affected))
            .join(eids, id_col, "left_anti")
            .repartition(F.col(part_col)),  # one file per rewritten cell
            eager=True,
        )
        kept.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(part_col).parquet(path)
        survivors = {r[0] for r in kept.select(part_col).distinct().collect()}
        for v in affected:
            if v not in survivors:
                fs, hpath = self._fs_and_path(
                    os.path.join(path, f"{part_col}={v}")
                )
                if fs.exists(hpath):
                    fs.delete(hpath, True)
        return affected

    def _integral_partition_dirs(
        self, layer: str, table: str, part_col: str
    ) -> dict[int, object]:
        """The table's hive partition directories as {int value: dir
        FileStatus}, REFUSING any directory whose name does not
        round-trip through int (review r16): a NULL partition lands as
        ``__HIVE_DEFAULT_PARTITION__``, and a STRING column holding
        numeric text like '07' writes ``cell=07`` but type-infers back
        as int 7 -- in both cases name reconstruction from the typed
        value would target the WRONG directory, so the erase/compact
        verbs must fail loudly here instead of silently serving stale
        rows.  (The dtype guard alone cannot catch the '07' case: the
        inferred dtype IS int.)"""
        fs, hpath = self._fs_and_path(self.path(layer, table))
        out: dict[int, object] = {}
        if not fs.exists(hpath):
            return out
        prefix = f"{part_col}="
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if not st.isDirectory() or not name.startswith(prefix):
                continue
            suffix = name[len(prefix):]
            try:
                v = int(suffix)
                round_trips = str(v) == suffix
            except ValueError:
                round_trips = False
            if not round_trips:
                raise NotImplementedError(
                    f"partition directory {name!r} does not round-trip "
                    f"through an integral value (NULL partition or "
                    "zero-padded/non-integral source column); the "
                    "partition-targeted erase/compact verbs support only "
                    "layouts whose directory names are reconstructible"
                )
            out[v] = st
        return out

    def partition_file_census(
        self, layer: str, table: str, part_col: str
    ) -> dict[int, int]:
        """Per-partition parquet file counts from the FS listing
        (metadata only, never a scan) for an integral hive-partitioned
        layout -- :meth:`data_file_count`'s per-cell form, the trigger
        signal for :meth:`compact_partitions`.  Shares
        :meth:`_integral_partition_dirs`' round-trip guard."""
        fs, _ = self._fs_and_path(self.path(layer, table))
        return {
            v: sum(
                1
                for f in fs.listStatus(st.getPath())
                if f.getPath().getName().endswith(".parquet")
            )
            for v, st in self._integral_partition_dirs(
                layer, table, part_col
            ).items()
        }

    def compact_partitions(
        self,
        layer: str,
        table: str,
        part_col: str,
        max_files_per_partition: int = 1,
    ) -> list[int]:
        """Maintenance rewrite for a PARTITION-laid-out table (the c69
        IVF index's ``cell=N`` layout): fold each fragmented partition's
        absorb-append file generations back into ONE file, touching only
        partitions over the ``max_files_per_partition`` threshold.

        :meth:`compact_bucketed`'s counterpart for the second index
        layout: absorbs append one file generation per affected cell, so
        a hot cell accumulates per-file task overhead on every serve;
        the census (FS metadata, no scan) picks the fragmented cells,
        ONLY those are re-read (the IN-list is a plan literal ->
        planning-time partition pruning, the same targeting as
        :meth:`erase_partition_rows`), each is rewritten as one file via
        dynamic-partition overwrite, and untouched cells keep their
        exact files.  Rows are never dropped -- there is no tombstone
        side table in this layout (erasure is physical, see
        :meth:`erase_partition_rows`), so compaction here is purely a
        file-count defragmenter.  Returns the compacted cell values.

        Shares :meth:`erase_partition_rows`'s integral-partition-column
        restriction (the census parses directory names) and
        :meth:`compact_bucketed`'s non-atomic-overwrite durability
        caveat (eager-pin freeze, no snapshot swap)."""
        path = self.path(layer, table)
        t = self.spark.read.parquet(path)
        part_type = dict(t.dtypes).get(part_col)
        if part_type not in ("tinyint", "smallint", "int", "bigint"):
            raise NotImplementedError(
                f"compact_partitions requires an integral partition "
                f"column; {part_col!r} is {part_type!r} (the file census "
                "parses hive directory names, which Spark escapes for "
                "non-integral values)"
            )
        census = self.partition_file_census(layer, table, part_col)
        affected = sorted(
            v for v, n in census.items() if n > max_files_per_partition
        )
        if not affected:
            return []
        frozen = pin_frame(  # freeze: we overwrite our source
            t.where(F.col(part_col).isin(affected)), eager=True
        )
        # hash-repartition on the partition column: every cell lands
        # wholly in one task, and the writer splits per partition dir,
        # so each compacted cell comes back as exactly one file
        frozen.repartition(F.col(part_col)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(part_col).parquet(path)
        return affected

    def compact_partition(
        self, layer: str, table: str, etl_date: str, target_files: int
    ) -> None:
        """Rewrite one partition into ``target_files`` parquet files.

        Streaming/incremental appends accumulate small files; at scale the
        resulting per-file task overhead dominates scan cost.  Compaction =
        read + repartition + dynamic-partition overwrite of just that
        partition (other partitions untouched).
        """
        part = self.partition(layer, table, etl_date).repartition(target_files)
        self.overwrite_partitions(part, layer, table)


class SqlWarehouse:
    """Catalog-named warehouse: ``ods``/``dwd``/``dws`` as REAL Spark SQL
    databases, tables addressed as ``<layer>.<table>`` -- the reference's
    user surface (Constants.scala:9-12, SparkSessionBuilder.scala:17)
    where ``Warehouse`` is its path-convention stand-in.

    Same method surface as ``Warehouse``, so every pipeline archetype runs
    unchanged against catalog names.  Writes go through the catalog
    (``saveAsTable`` / SQL DML); in particular ``overwrite_partitions``
    executes the reference's literal statement form::

        INSERT OVERWRITE TABLE dwd.t PARTITION (etl_date)
        SELECT ... FROM temp_combined_data

    (CustomerInfDataClean.scala:70-88) over a temp view, with
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` standing in for
    ``hive.exec.dynamic.partition[.mode]``.

    ``db_prefix`` isolates test runs (``t1_ods`` ...); production use is the
    bare reference names.
    """

    TEMP_VIEW = "temp_combined_data"

    def __init__(self, spark: SparkSession, db_prefix: str = "",
                 layers: tuple = ("ods", "dwd", "dws")):
        self.spark = spark
        self.db_prefix = db_prefix
        for layer in layers:
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {self._db(layer)}")

    def _db(self, layer: str) -> str:
        return f"{self.db_prefix}{layer}"

    def qualified(self, layer: str, table: str) -> str:
        return f"{self._db(layer)}.{table}"

    # -- reads (SQL-statement forms S1/S3) ---------------------------------

    def exists(self, layer: str, table: str) -> bool:
        return self.spark.catalog.tableExists(self.qualified(layer, table))

    def table(self, layer: str, table: str) -> DataFrame:
        """S3: ``sparkSession.table("dwd.t")``."""
        return self.spark.table(self.qualified(layer, table))

    def partition(self, layer: str, table: str, etl_date: str) -> DataFrame:
        """S1: the reference's literal interpolated-SQL scan; the catalog
        prunes to one partition directory at planning time."""
        return self.spark.sql(
            f"SELECT * FROM {self.qualified(layer, table)} "
            f"WHERE etl_date = '{etl_date}'"
        )

    def latest_partition(self, layer: str, table: str) -> str | None:
        """A1/S12 via ``SHOW PARTITIONS`` -- catalog metadata only, no data
        scan (the reference's ``SELECT MAX(etl_date)`` reads rows)."""
        if not self.exists(layer, table):
            return None
        rows = self.spark.sql(
            f"SHOW PARTITIONS {self.qualified(layer, table)}"
        ).collect()
        parts = [r[0].split("=", 1)[1] for r in rows if "=" in r[0]]
        return max(parts) if parts else None

    def latest(self, layer: str, table: str) -> DataFrame:
        p = self.latest_partition(layer, table)
        if p is None:
            raise FileNotFoundError(f"no partitions in {layer}.{table}")
        return self.partition(layer, table, p)

    # -- writes (S8-S10, SQL-statement forms) ------------------------------

    def _ensure_table(self, df: DataFrame, layer: str, table: str) -> str:
        name = self.qualified(layer, table)
        if not self.exists(layer, table):
            # create the partitioned shell through the catalog; data flows
            # in via INSERT so first-write and steady-state share one path
            (df.limit(0).write.format("parquet")
             .partitionBy("etl_date").saveAsTable(name))
        return name

    def _insert_sql(self, df: DataFrame, layer: str, table: str,
                    overwrite: bool) -> None:
        name = self._ensure_table(df, layer, table)
        # partition column must be last in the SELECT for PARTITION (col)
        cols = [c for c in df.columns if c != "etl_date"] + ["etl_date"]
        df.createOrReplaceTempView(self.TEMP_VIEW)
        verb = "OVERWRITE TABLE" if overwrite else "INTO"
        self.spark.sql(
            f"INSERT {verb} {name} PARTITION (etl_date) "
            f"SELECT {', '.join(cols)} FROM {self.TEMP_VIEW}"
        )

    def append(self, df: DataFrame, layer: str, table: str) -> None:
        """S8: ``INSERT INTO ... PARTITION (etl_date) SELECT ...``."""
        self._insert_sql(df, layer, table, overwrite=False)

    def overwrite_partitions(self, df: DataFrame, layer: str, table: str) -> None:
        """S9, statement form: dynamic-partition INSERT OVERWRITE over a
        temp view -- replaces only the partitions present in ``df``."""
        prev = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            self._insert_sql(df, layer, table, overwrite=True)
        finally:
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def overwrite_table(self, df: DataFrame, layer: str, table: str) -> None:
        """S10: whole-table replace through the catalog."""
        name = self.qualified(layer, table)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        self._insert_sql(df, layer, table, overwrite=True)

    # -- statistics (CBO food) ---------------------------------------------

    def analyze(
        self, layer: str, table: str, columns: list[str] | None = None
    ) -> None:
        """``ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS ...]``.

        Row/size stats feed the cost-based optimizer's join-strategy and
        build-side choices; column stats (ndv, min/max, null count) feed
        join reordering.  At 100 TB, accurate stats are the difference
        between the CBO broadcasting a filtered dimension and sort-merging
        it -- schedule this after large loads, not per query.
        """
        name = self.qualified(layer, table)
        self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        if columns:
            self.spark.sql(
                f"ANALYZE TABLE {name} COMPUTE STATISTICS "
                f"FOR COLUMNS {', '.join(columns)}"
            )

    def row_count_stat(self, layer: str, table: str) -> int | None:
        """The catalog's recorded rowCount (None until ``analyze`` runs) --
        metadata only, no scan."""
        rows = self.spark.sql(
            f"DESCRIBE TABLE EXTENDED {self.qualified(layer, table)}"
        ).collect()
        for r in rows:
            if r[0] == "Statistics":
                for part in r[1].split(","):
                    part = part.strip()
                    if part.endswith("rows"):
                        return int(part.split()[0])
        return None

    def drop_all(self) -> None:
        """Test teardown: drop the prefixed databases."""
        for db in [d.name for d in self.spark.catalog.listDatabases()]:
            if self.db_prefix and db.startswith(self.db_prefix):
                self.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
