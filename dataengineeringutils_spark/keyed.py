"""KeyedTable: a MERGE-upsert interface over a keyed table.

The reference surface's "write latest state per key" pattern (Glue/Athena
users re-register snapshots; lakehouse users run ``MERGE INTO``). The
interface is the contract; the implementation here is path-versioned
parquet swaps because this sandbox ships no Delta/Iceberg package — on a
real deployment ``_write_version`` / ``_read_current`` collapse to one
``MERGE INTO`` on a transactional table and nothing above them changes.

Scale: each upsert is ONE key-partitioned window over (current ∪ batch) —
Spark shuffles by key exactly once per merge; state lives in the TABLE,
never in driver or executor memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class KeyedTable:
    """Latest-row-per-key table with MERGE-style upserts.

    ``keys`` identify a row; ``order_by`` columns (descending, in order)
    decide which version of a key wins — deterministic under replay as
    long as the ordering is a total order per key.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        keys: list[str],
        order_by: list[str],
    ) -> None:
        self.spark = spark
        self.base_path = base_path
        self.keys = keys
        self.order_by = order_by
        self._version = -1

    @classmethod
    def attach(
        cls,
        spark: SparkSession,
        base_path: str,
        keys: list[str],
        order_by: list[str],
    ) -> "KeyedTable":
        """Open an EXISTING path-versioned table read/write: recover the
        committed-version frontier from the ``state_v<N>`` directories on
        disk (the path-versioned analog of reading a lakehouse table's
        log) instead of assuming an empty history. Needed by any process
        that did not create the table — e.g. time travel over a table
        committed by a previous maintenance run."""
        import os
        import re

        t = cls(spark, base_path, keys, order_by)
        try:
            versions = [
                int(m.group(1))
                for e in os.listdir(base_path)
                if (m := re.fullmatch(r"state_v(\d+)", e))
            ]
        except FileNotFoundError:
            versions = []
        t._version = max(versions) if versions else -1
        return t

    def _rank_window(self, df: DataFrame):
        # Final tie-break: a content hash over every column. Two batch
        # rows equal on (keys + full order_by) used to be resolved by
        # partition luck inside row_number; hashing the whole row makes
        # the winner a pure function of the data (and when the tied rows
        # are byte-identical the choice is immaterial anyway). ADVICE r4.
        return Window.partitionBy(*self.keys).orderBy(
            *[F.col(c).desc() for c in self.order_by],
            F.xxhash64(*[F.col(c) for c in df.columns]).desc(),
        )

    def _latest_per_key(self, df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__rn", F.row_number().over(self._rank_window(df)))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def upsert(self, batch: DataFrame) -> None:
        """MERGE the batch: per key, keep the winner of (current, batch).

        Equivalent to ``MERGE INTO t USING batch ON keys WHEN MATCHED AND
        batch wins THEN UPDATE WHEN NOT MATCHED THEN INSERT`` — expressed
        as one union + one keyed window so plain parquet can run it.

        Ties on the FULL ``order_by`` between the snapshot and the batch
        go to the BATCH (last writer wins — the standard upsert rule): a
        recency column a source fails to advance must still apply the
        newest payload deterministically. Without the explicit
        precedence column the window tie-break was partitioning
        luck (caught by the model-based property test).
        """
        merged = self._latest_per_key(batch)
        if self._version >= 0:
            w = Window.partitionBy(*self.keys).orderBy(
                *[F.col(c).desc() for c in self.order_by],
                F.col("__src").desc(),
            )
            merged = (
                self.current()
                .withColumn("__src", F.lit(0))
                .unionByName(merged.withColumn("__src", F.lit(1)))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__src")
            )
        # write first, bump after: a failed write must not leave _version
        # pointing at a nonexistent state path
        merged.write.mode("overwrite").parquet(
            f"{self.base_path}/state_v{self._version + 1}"
        )
        self._version += 1

    def compact(self, target_rows_per_file: int) -> int:
        """Small-file COMPACTION: rewrite the current state into
        ceil(n / target_rows_per_file) files as a new committed version.

        Every upsert writes a fresh snapshot whose file count follows
        the merge's shuffle width, so a frequently-upserted table
        accumulates many small files and scan cost becomes file-open
        cost (the lakehouse OPTIMIZE problem). Compaction is
        content-neutral — same rows, one coalesced layout — and
        versioned like any other commit, so time travel still sees the
        pre-compaction snapshots. Returns the new file count.
        """
        import math

        cur = self.current()
        n = cur.count()
        files = max(1, math.ceil(n / target_rows_per_file))
        # repartition (not coalesce): coalesce would chain onto the read
        # tasks and skew file sizes; a round-robin shuffle yields evenly
        # sized files, which is the point of compaction
        # (write first, bump after — same failed-write rule as upsert)
        cur.repartition(files).write.mode("overwrite").parquet(
            f"{self.base_path}/state_v{self._version + 1}"
        )
        self._version += 1
        return files

    def vacuum(self, keep: int) -> None:
        """Delete the committed versions between the first ``keep`` and
        the current one (the lakehouse VACUUM): history that grows by
        one table copy per commit stays bounded. Time travel to a
        deleted version fails afterwards."""
        import shutil

        for v in range(keep, self._version):
            shutil.rmtree(f"{self.base_path}/state_v{v}", ignore_errors=True)

    def current(self) -> DataFrame:
        """The table's current (latest-committed) version."""
        if self._version < 0:
            raise ValueError("KeyedTable has no committed version yet")
        return self.spark.read.parquet(f"{self.base_path}/state_v{self._version}")

    def at_version(self, version: int) -> DataFrame:
        """TIME TRAVEL: read a committed historical version (0-based).
        Every upsert commits an immutable snapshot, so any past state
        remains queryable — the path-versioned analog of a lakehouse
        `VERSION AS OF`."""
        if not 0 <= version <= self._version:
            raise ValueError(
                f"version {version} not in [0, {self._version}]"
            )
        return self.spark.read.parquet(f"{self.base_path}/state_v{version}")
