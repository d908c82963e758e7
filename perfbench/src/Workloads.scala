package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkEntry
import graft.sources.IcebergLite

/** One timed operation. `build` calls into the engine and returns the
  * frame to execute; `execute` runs it (the noop sink, or an IcebergLite
  * commit that consumes the frame). A `result` op's frame is the op's
  * output: the verification pass writes it out for the oracle instead
  * of executing it into the noop sink. */
final case class Op(name: String, build: () => DataFrame, execute: DataFrame => Unit,
    result: Boolean)

object Op {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A catalog row executed into the noop sink. */
  def catalog(spark: SparkSession, dir: String, name: String): Op =
    Op(name, () => SparkEntry.queries(name)(spark, dir), noop, result = true)
}

/** The workloads. The catalog rows of `tpch` and `llm` and their order,
  * and the lakehouse slice order, predicate bounds and update keys,
  * come from the seeded plan `run.py` writes next to the data. */
object Workloads {
  /** Ops of one pass. `lakeRoot` is a fresh table directory per pass. */
  def ops(workload: String, spark: SparkSession, dir: String, plan: Plan,
      lakeRoot: String): Seq[Op] = workload match {
    case "tpch" | "llm" => plan.order.map(Op.catalog(spark, dir, _))
    case "lakehouse" => lakehouse(spark, plan, lakeRoot)
    case other => sys.error(s"unknown workload '$other'")
  }

  /** A fresh IcebergLite table built from `orders` (its only unique key
    * is `o_orderkey`): one append per `o_orderkey % n` slice (n from the plan)
    * partitioned by status, a partition-plus-bounds read, a
    * copy-on-write delete, a ~1% update merge, compaction, a full read. */
  def lakehouse(spark: SparkSession, plan: Plan, root: String): Seq[Op] = {
    import IcebergLite.{Eq, GtEq, Lt}
    def orders = spark.table("orders")
    def none = spark.emptyDataFrame
    val (whereStatus, whereLo, whereHi) = plan.where
    val (delStatus, delLo, delHi) = plan.delete
    val create = Op("lake_create", () => none, _ => IcebergLite.createTable(root), result = false)
    val appends = plan.slices.zipWithIndex.map { case (k, i) =>
      Op(s"lake_append_${i + 1}", () => orders.filter(col("o_orderkey") % plan.slices.size === k),
        df => IcebergLite.append(spark, root, df, Seq("o_orderstatus")), result = false)
    }
    val readWhere = Op("lake_read_where",
      () => IcebergLite.readWhere(spark, root,
        col("o_orderstatus") === whereStatus && col("o_orderkey") >= whereLo &&
          col("o_orderkey") < whereHi),
      Op.noop, result = true)
    val delete = Op("lake_delete", () => none,
      _ => IcebergLite.delete(spark, root, Seq(Eq("o_orderstatus", delStatus),
        GtEq("o_orderkey", delLo.toString), Lt("o_orderkey", delHi.toString))),
      result = false)
    val merge = Op("lake_merge",
      () => orders.filter(col("o_orderkey") % plan.updateModulus === plan.updateResidue)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0)),
      df => IcebergLite.merge(spark, root, df, Seq("o_orderkey")), result = false)
    val compact = Op("lake_compact", () => none, _ => IcebergLite.compact(spark, root),
      result = false)
    val read = Op("lake_read", () => IcebergLite.read(spark, root), Op.noop, result = true)
    Seq(create) ++ appends ++ Seq(readWhere, delete, merge, compact, read)
  }

  /** An op that always fails at analysis, for the self-test. */
  def injectedFailure(spark: SparkSession): Op =
    Op("injected_failure", () => spark.table("perfbench_no_such_table"), Op.noop,
      result = false)
}

/** The seeded plan (a `key=value` file written by the generator). */
final case class Plan(order: Seq[String], slices: Seq[Int],
    where: (String, Long, Long), delete: (String, Long, Long),
    updateModulus: Long, updateResidue: Long)

object Plan {
  def load(path: String): Plan = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(path)
    try p.load(in) finally in.close()
    def list(k: String) = p.getProperty(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def triple(k: String) = {
      val Seq(s, lo, hi) = list(k)
      (s, lo.toLong, hi.toLong)
    }
    Plan(list("order"), list("lake.slices").map(_.toInt), triple("lake.where"),
      triple("lake.delete"), p.getProperty("lake.update_modulus").toLong,
      p.getProperty("lake.update_residue").toLong)
  }
}
