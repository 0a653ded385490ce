"""etl_refresh: incremental refreshes of a warehouse in a long-lived session.

Set-up is session start, the seeding of an insert-only and an SCD2
customer dimension from the base customers, and WARM_CYCLES refresh
cycles on their own landings, so every public call has run before the
window and the window starts past the coldest, JIT-bound cycle.

Each refresh cycle consumes a fresh landing directory (changed and new
customers and parts as CSV, and the new customer snapshot as parquet):

1. COPY of the customer and part CSV deltas into staging, with load
   history (`copy_with_history`);
2. `append_new_members` of the snapshot into the insert-only dimension;
3. `snapshot_diff` of the customer snapshot against the base, and
   `scd2_apply` of the resulting upserts.

The window runs cycles on new landings until `--seconds` have passed,
and at least MIN_CYCLES. Every step's result is checked against counts
the landing determines.
"""

from __future__ import annotations

import os
import time

import datagen
from harness import CheckFailed, Run, Window

SF = 0.001
TRACKED = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
#: Refresh cycles in set-up. On 4 cores the first cycle in a process
#: took 16-17 s and the next six 6-10 s each. JIT compilation took 10-12
#: cpu-s of the second cycle and 3.5-4 of the seventh; the rest of the
#: CPU fell from about 12.5 to 10.8 cpu-s between the second and the
#: fourth cycle, and by about half a cpu-s over the next three.
WARM_CYCLES = 2
#: The fewest cycles a window holds, so its median rests on three.
MIN_CYCLES = 3


def _schemas():
    from pyspark.sql import types as T
    customer = T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType())])
    part = T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType())])
    return {"customer": customer, "part": part}


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got}, want {want}")


class Refresher:
    """The refresh pipeline's state across cycles."""

    def __init__(self, bench: Run, spark, base: str) -> None:
        self.bench, self.spark, self.base = bench, spark, base
        self.schemas = _schemas()
        self.scd2 = ("scd2_customer_a", "scd2_customer_b")
        self.scd2_rows = 0
        self.scd2_current = 0
        self.cycles = 0
        self.counts = {"rows_loaded": 0, "rows_rejected": 0}

    def seed_members(self) -> None:
        """Seed the insert-only and the SCD2 customer dimension from the
        base star's customers."""
        from pyspark.sql import functions as F
        from snowflake_azure_etl_spark.warehouse.scd import scd2_seed
        spark = self.spark
        with self.bench.op("warehouse.seed", "initial"):
            members = spark.read.parquet(
                os.path.join(self.base, "customer.parquet"))
            (members.withColumn("cust_sk", F.col("c_custkey") + 1)
             .write.format("parquet").saveAsTable("inc_customer"))
            n = members.count()
            (scd2_seed(members, key_col="cust_sk",
                       business_keys=["c_custkey"], n_rows=n)
             .write.format("parquet").saveAsTable(self.scd2[0]))
            self.scd2_rows = self.scd2_current = n

    def reset_counts(self) -> None:
        """Forget the row counts of earlier cycles."""
        self.counts = {"rows_loaded": 0, "rows_rejected": 0}

    def cycle(self, land: datagen.Landing) -> None:
        self.cycles += 1
        bench = self.bench
        with bench.span("cycle"):
            self._steps(land, f"cycle{self.cycles}")

    def _steps(self, land: datagen.Landing, op: str) -> None:
        bench = self.bench
        for entity, rows in land.csv_rows.items():
            with bench.op("sources.copy", op):
                rep = self._copy(land.path, entity, rows)
                self.counts["rows_loaded"] += rep.rows_loaded
                self.counts["rows_rejected"] += rep.rows_rejected
        with bench.op("warehouse.append", op):
            self._append(land)
        with bench.op("warehouse.diff", op):
            diff = self._diff(land)
        with bench.op("warehouse.scd2", op):
            self._scd2(land, diff)

    def _copy(self, root: str, entity: str, rows: int):
        from snowflake_azure_etl_spark.warehouse.copy_loader import (
            copy_with_history)
        rep = copy_with_history(
            self.spark, os.path.join(root, f"stage_{entity}", "*.csv"),
            self.schemas[entity], f"stg_{entity}", entity=entity)
        if rep is None:
            raise CheckFailed(f"COPY {entity}: nothing loaded")
        _expect(f"COPY {entity} rows_loaded", rep.rows_loaded, rows)
        _expect(f"COPY {entity} rows_rejected", rep.rows_rejected,
                datagen.CSV_REJECTS)
        return rep

    def _append(self, land: datagen.Landing) -> None:
        from pyspark.sql import functions as F
        from snowflake_azure_etl_spark.warehouse.incremental import (
            append_new_members)
        snap = self.spark.read.parquet(
            os.path.join(land.path, "star", "customer.parquet"))
        rep = append_new_members(
            self.spark, "inc_customer", snap.withColumn("cust_sk", F.lit(0)),
            "cust_sk", ["c_custkey"])
        _expect("append candidates", rep.candidates, land.customers)
        _expect("append inserted", rep.inserted, land.new_customers)

    def _diff(self, land: datagen.Landing):
        from snowflake_azure_etl_spark.warehouse.cdc import snapshot_diff
        old = self.spark.read.parquet(
            os.path.join(self.base, "customer.parquet"))
        new = self.spark.read.parquet(
            os.path.join(land.path, "star", "customer.parquet"))
        diff = snapshot_diff(old, new, ["c_custkey"], TRACKED)
        ops = {r["op"]: r["n"] for r in
               diff.groupBy("op").count().withColumnRenamed("count", "n")
               .collect()}
        _expect("diff ops", ops, {"I": land.new_customers,
                                  "U": land.changed_customers})
        return diff

    def _scd2(self, land: datagen.Landing, diff) -> None:
        from pyspark.sql import functions as F
        from snowflake_azure_etl_spark.warehouse.cdc import upserts
        from snowflake_azure_etl_spark.warehouse.scd import scd2_apply
        src, dst = self.scd2
        state = scd2_apply(
            self.spark.table(src), upserts(diff), key_col="cust_sk",
            business_keys=["c_custkey"], tracked_cols=TRACKED,
            batch_id=self.cycles)
        self.spark.sql(f"DROP TABLE IF EXISTS {dst}")
        state.write.format("parquet").saveAsTable(dst)
        self.scd2 = (dst, src)
        got = {r["is_current"]: r["n"] for r in
               self.spark.table(dst).groupBy("is_current").agg(
                   F.count(F.lit(1)).alias("n")).collect()}
        self.scd2_current += land.new_customers
        self.scd2_rows += land.new_customers + land.changed_customers
        _expect("scd2 current rows", got.get(True, 0), self.scd2_current)
        _expect("scd2 history rows", got.get(False, 0),
                self.scd2_rows - self.scd2_current)


def run(bench: Run, start_session) -> tuple[dict, dict, dict]:
    base = os.path.join(bench.work, "base")
    size = datagen.star(base, bench.seed, SF)
    key_base = {"customer": size.customers, "part": size.parts}
    # one landing per window second: enough for cycles of a second
    n_landings = WARM_CYCLES + max(MIN_CYCLES, int(bench.seconds))
    landings = [
        datagen.landing(base, os.path.join(bench.work, f"landing{c}"),
                        bench.seed, c, key_base)
        for c in range(n_landings)]

    t0 = time.perf_counter()
    spark = start_session()
    ref = Refresher(bench, spark, base)
    ref.seed_members()
    for land in landings[:WARM_CYCLES]:
        ref.cycle(land)
    setup_s = time.perf_counter() - t0
    ref.reset_counts()

    wh_dir = os.environ["SPARK_GRAFT_WAREHOUSE_DIR"]
    files = [0, 0]
    with Window(bench) as win:
        for land in landings[WARM_CYCLES:]:
            mark = time.time()
            ref.cycle(land)
            win.unit_done()
            if bench.trace:
                _count_new_files(wh_dir, mark, files)
            if (len(win.unit_wall_s) >= MIN_CYCLES
                    and win.elapsed() >= bench.seconds):
                break
    n = len(win.unit_wall_s)
    cycle_s, cycle_cpu_s = win.median_unit()
    end_to_end = {
        "setup_s": setup_s,
        "work_cpu_s": cycle_cpu_s,
        "peak_rss_mb": bench.peak_rss_mb,
    }
    client = {"op_p50_ms": cycle_s * 1e3, "ops_per_s": 1 / cycle_s}
    if not bench.trace:
        return end_to_end, client, {}
    tr = bench.tracer
    layers = win.layer_metrics(n)
    layers.update({
        "sources.copy_s": sum(tr.span_seconds("sources.copy",
                                              win.t0)) / n,
        "sources.rows_loaded": ref.counts["rows_loaded"] / n,
        "sources.rows_rejected": ref.counts["rows_rejected"] / n,
        "warehouse.incremental_s": sum(
            sum(tr.span_seconds(s, win.t0)) for s in
            ("warehouse.append", "warehouse.diff", "warehouse.scd2")) / n,
        "warehouse.files_written": files[0] / n,
        "warehouse.bytes_written_mb": files[1] / 2**20 / n,
    })
    return end_to_end, client, layers


def _count_new_files(root: str, since: float, acc: list) -> None:
    """Add the count and bytes of files under `root` modified at or
    after `since` to `acc`."""
    for dirpath, _, names in os.walk(root):
        for f in names:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= since:
                acc[0] += 1
                acc[1] += st.st_size
