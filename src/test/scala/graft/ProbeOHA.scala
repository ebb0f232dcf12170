package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** VERDICT r16 item 7 — ObjectHashAggregate fallback probe at larger
  * scale: the r15 dsum (DSumAgg/ObjectHashAggregate) trade was
  * measured a win at sf0.1; this probe re-runs the five
  * sort-fallback-risk sites (q139/q59/q60/q208/q209) on a 10× keyed
  * clone of the corpus (group cardinality ×10) and A/Bs three ways:
  *   a) current code at the session default
  *      spark.sql.objectHashAggregate.sortBased.fallbackThreshold,
  *   b) current code with the threshold raised (hash path retained),
  *   c) the pre-r15 builtin formulation
  *      sum(cast(x as decimal(30,6))).cast(double) (HashAggregate).
  * Clone keys are offset PER COPY so intra-copy join relationships
  * hold and per-copy results replicate — the timing corpus is
  * structurally honest, not row-duplicated garbage.
  * Args: srcSfDir cloneDir [copies] [passes]
  */
object ProbeOHA {
  private def bsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(30, 6))).cast(DoubleType)

  private def buildClone(s: SparkSession, src: String, out: String,
                         copies: Int): Unit = {
    val fs = java.nio.file.Paths.get(out)
    if (java.nio.file.Files.exists(fs.resolve("lineitem.parquet"))) {
      println(s"[probeoha] clone dir $out exists, reusing")
      return
    }
    java.nio.file.Files.createDirectories(fs)
    def ks(df: DataFrame) = df.withColumn("__k",
      explode(array((0 until copies).map(lit): _*)))
    def off(df: DataFrame, keyCol: String): Long =
      df.agg(max(col(keyCol))).head().getLong(0) + 1
    val ord = Tables.orders(s, src)
    val li = Tables.lineitem(s, src)
    val cust = Tables.customer(s, src)
    val part = Tables.part(s, src)
    val supp = Tables.supplier(s, src)
    val ev = Tables.events(s, src)
    val oOrd = off(ord, "o_orderkey"); val oCust = off(cust, "c_custkey")
    val oPart = off(part, "p_partkey"); val oSupp = off(supp, "s_suppkey")
    val oUser = off(ev, "user_id"); val oEid = off(ev, "event_id")
    def w(df: DataFrame, name: String): Unit =
      df.drop("__k").write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
    w(ks(ord)
      .withColumn("o_orderkey", col("o_orderkey") + col("__k") * oOrd)
      .withColumn("o_custkey", col("o_custkey") + col("__k") * oCust),
      "orders")
    w(ks(li)
      .withColumn("l_orderkey", col("l_orderkey") + col("__k") * oOrd)
      .withColumn("l_partkey", col("l_partkey") + col("__k") * oPart)
      .withColumn("l_suppkey", col("l_suppkey") + col("__k") * oSupp),
      "lineitem")
    w(ks(cust)
      .withColumn("c_custkey", col("c_custkey") + col("__k") * oCust),
      "customer")
    w(ks(part)
      .withColumn("p_partkey", col("p_partkey") + col("__k") * oPart),
      "part")
    w(ks(supp)
      .withColumn("s_suppkey", col("s_suppkey") + col("__k") * oSupp),
      "supplier")
    // dimensions stay 1x (broadcast side, realistic at any scale)
    w(Tables.nation(s, src), "nation")
    w(Tables.region(s, src), "region")
    w(ks(ev)
      .withColumn("user_id", col("user_id") + col("__k") * oUser)
      .withColumn("event_id", col("event_id") + col("__k") * oEid),
      "events")
    println(s"[probeoha] built ${copies}x clone at $out")
  }

  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val passes = if (args.length > 3) args(3).toInt else 3
    val spark = GraftConf.localSession(GraftConf.hostCpus)
    spark.sparkContext.setLogLevel("ERROR")
    buildClone(spark, src, out, copies)

    val thrKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    println(s"[probeoha] default $thrKey=" +
      spark.conf.getOption(thrKey).getOrElse(
        org.apache.spark.sql.internal.SQLConf.get
          .getConf(org.apache.spark.sql.internal.SQLConf
            .OBJECT_AGG_SORT_BASED_FALLBACK_THRESHOLD).toString))

    def timeIt(name: String, conf: Map[String, String])(f: () => DataFrame)
        : Double = {
      val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val runs = (1 to passes).map(_ => Instruments.noopPass(spark)(f()).wallS)
        println(f"[probeoha] $name min=${runs.min}%.3f " +
          f"all=${runs.map(r => f"$r%.2f").mkString(",")}")
        runs.min
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // the builtin-decimal (pre-r15) twins of the five sites — same
    // pipelines as SparkEntry, bsum substituted for dsum
    val builtinTwins: Map[String, () => DataFrame] = Map(
      "q139_shipping_priority" -> (() => {
        val cut = to_timestamp(lit("1998-06-01 00:00:00"))
        val c = Tables.customer(spark, out)
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val o = Tables.orders(spark, out).filter(col("o_orderdate") < cut)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val l = Tables.lineitem(spark, out).filter(col("l_shipdate") > cut)
          .select("l_orderkey", "l_extendedprice", "l_discount")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"),
            col("o_orderpriority"))
          .agg(bsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderdate").asc,
            col("l_orderkey").asc)
          .limit(10)
      }),
      "q59_interval_join" -> (() => {
        val ev = Tables.events(spark, out)
        val windows = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts").as("w_start"),
            (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
        val points = ev.filter(col("event_type") =!= "signup")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("event_type"), col("value"))
        graft.operators.IntervalJoin.pointInInterval(points, "ts",
            windows, "w_start", "w_end", Seq("user_id"),
            widthMicros = 15L * 60 * 1000000)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("event_id")).as("n_attributed"),
            bsum(col("value")).as("sum_value"))
          .orderBy(col("event_type"))
      }),
      "q60_sessionize" -> (() => {
        val ev = Tables.events(spark, out)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        graft.operators.Sessionize.assign(ev, Seq("user_id"), "ts",
            Seq("event_id"), gapMicros = 30L * 60 * 1000000)
          .groupBy(col("user_id"), col("session_seq"))
          .agg(min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            count(lit(1)).as("n_events"),
            bsum(col("value")).as("sum_value"))
          .orderBy(col("user_id"), col("session_seq"))
      }),
      "q208_product_profit" -> (() => {
        val p = Tables.part(spark, out)
          .filter(col("p_name").contains("red"))
          .select("p_partkey", "p_retailprice")
        val sup = Tables.supplier(spark, out)
          .join(broadcast(Tables.nation(spark, out)
            .select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("nation"))
        Tables.lineitem(spark, out)
          .select("l_partkey", "l_suppkey", "l_shipdate",
            "l_extendedprice", "l_discount", "l_quantity")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("nation"),
            year(col("l_shipdate")).cast("long").as("o_year"))
          .agg(bsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            col("l_quantity") * col("p_retailprice") * lit(0.1))
            .as("sum_profit"))
          .orderBy(col("nation"), col("o_year").desc)
      }),
      "q209_returned_revenue" -> (() => {
        val o = Tables.orders(spark, out)
          .filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01 00:00:00")) &&
            col("o_orderdate") < to_timestamp(lit("1998-04-01 00:00:00")))
          .select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(spark, out)
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount")
        val rev = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(bsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        rev.join(Tables.customer(spark, out)
            .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(spark, out)
            .select("n_nationkey", "n_name")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"), col("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey").asc)
          .limit(20)
      }))

    for (q <- Seq("q139_shipping_priority", "q59_interval_join",
        "q60_sessionize", "q208_product_profit", "q209_returned_revenue")) {
      timeIt(s"$q dsum default", Map.empty)(
        () => SparkEntry.queries(q)(spark, out))
      timeIt(s"$q dsum thr=4M", Map(thrKey -> "4194304"))(
        () => SparkEntry.queries(q)(spark, out))
      timeIt(s"$q builtin-decimal", Map.empty)(builtinTwins(q))
    }
    spark.stop()
  }
}
