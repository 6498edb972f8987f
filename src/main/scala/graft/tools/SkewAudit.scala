package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Adversarial-skew tier audit (round-14 verdict item 3): ScaleUp's
  * uniform clones prove scale, but real corpora are Zipf — the skew
  * machinery (AQE skew-join splits, the salted join, hot-user
  * sessionization) was proven only on planted micro-corpora at test
  * scale. This tool runs against a `ScaleUp --skew` corpus (~63% of
  * clone fact mass on one customer/supplier/part/user/event-type) and
  * verifies, with plan evidence rather than prose:
  *
  *  1. the corpus IS skewed (head-key mass share ≥ 50% on events and
  *     lineitem — ~100× a uniform key's share at K=10);
  *  2. AQE actually SPLITS the skewed partition: a sort-merge join on
  *     the hot supplier key, with the skew-join thresholds scaled to
  *     the corpus (256 MB defaults target production partitions),
  *     must carry the `skew=true` marker in its FINAL adaptive plan —
  *     read after collect(), never after count() (CLAUDE.md: count()
  *     runs a separate QueryExecution with an unfinalized AQE plan);
  *  3. the salted-join entry and the hot-user batch+stateful
  *     sessionizers complete on the skewed corpus with sane outputs
  *     (no straggler wedge; content invariance is the layout gate's
  *     job, run separately on the same corpus).
  *
  * {{{
  * sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/graft_skew 10 --skew"
  * SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.SkewAudit /tmp/graft_skew"
  * }}}
  */
object SkewAudit {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_skew")
    val spark = graft.LocalSession("graft-skew-audit")
    var fails = 0
    def check(name: String)(body: => Either[String, String]): Unit = {
      val t0 = System.nanoTime()
      val r = try body catch {
        case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      r match {
        case Right(detail) => println(f"PASS $name ($secs%.1f s): $detail")
        case Left(err)     => println(f"FAIL $name ($secs%.1f s): $err"); fails += 1
      }
    }

    check("corpus_head_mass") {
      def headShare(df: org.apache.spark.sql.DataFrame, key: String): (Long, Double) = {
        val total = df.count()
        val top = df.groupBy(key).count().orderBy(col("count").desc).first()
        (total, top.getLong(1).toDouble / total)
      }
      val (nEv, evShare) = headShare(Tables.events(spark, dir), "user_id")
      val (nLi, liShare) = headShare(Tables.lineitem(spark, dir), "l_suppkey")
      if (evShare >= 0.5 && liShare >= 0.5)
        Right(f"events $nEv rows, head user ${evShare * 100}%.1f%%; " +
          f"lineitem $nLi rows, head supplier ${liShare * 100}%.1f%%")
      else Left(f"head mass too small: events ${evShare * 100}%.1f%%, lineitem ${liShare * 100}%.1f%%")
    }

    check("aqe_skew_join_split") {
      // corpus-scaled skew thresholds: the 256 MB default targets
      // production partition sizes; the SKEW MACHINERY is what's under
      // test, so the threshold scales to this corpus's partitions
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // thresholds in SHUFFLE bytes, which are lz4-compressed; try a
      // small matrix from least to most aggressive and report the
      // first configuration whose FINAL plan carries the split marker
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val matrix: Seq[(String, Map[String, String])] = Seq(
        "corpus-scaled" -> Map(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128k",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2"),
        "coalesce-off" -> Map(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128k",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false"),
        "factor-1" -> Map(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false"))
      try {
        val li = Tables.lineitem(spark, dir)
          .select(col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
        val su = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
        var lastPlan = ""
        val hit = matrix.collectFirst(Function.unlift { case (tag, confs) =>
          confs.foreach { case (k, v) => spark.conf.set(k, v) }
          try {
            val j = li.join(su, col("l_suppkey") === col("s_suppkey"))
              .select(col("s_nationkey"), col("l_quantity"), col("l_extendedprice"))
            val n = j.collect().length // collect -> FINAL adaptive plan
            val plan = j.queryExecution.executedPlan.toString
            lastPlan = plan
            if (plan.contains("skew=true")) Some(s"$tag: $n joined rows, skew=true in final plan")
            else None
          } finally confs.keys.foreach(spark.conf.unset)
        })
        hit.toRight("no matrix entry produced a skew=true marker; last plan:\n" + lastPlan.take(2500))
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }

    check("salted_join") {
      val rows = graft.operators.SkewJoin.skewJoinDemo(spark, dir).collect()
      if (rows.nonEmpty) Right(s"${rows.length} rows") else Left("empty result")
    }

    check("hot_user_sessionize_batch") {
      val s = graft.operators.Relational.sessionize(spark, dir)
      val byUser = s.groupBy("user_id").count().orderBy(col("count").desc).first()
      Right(s"sessionized; hottest user ${byUser.getLong(0)} has ${byUser.getLong(1)} sessions")
    }

    check("hot_user_sessionize_stateful") {
      val out = graft.streaming.StreamingJobs.sessionizeStream(spark, dir)
      val n = out.count()
      if (n > 0) Right(s"$n sessions through flatMapGroupsWithState with the hot user present")
      else Left("no sessions emitted")
    }

    println(if (fails == 0) "SKEW AUDIT PASS" else s"SKEW AUDIT: $fails FAIL")
    spark.stop()
    if (fails > 0) sys.exit(1)
  }
}
