package graft

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Runtime bloom-filter experiment for the semi-join family (VERDICT
  * r11 #3): q51/q45's fact scans are only prunable at RUNTIME — the
  * selective predicate lives on the other join side (brand-filtered
  * parts, the >250-qty order aggregate), so static pushdown can never
  * reach the fact scan and only an injected runtime filter
  * (`spark.sql.optimizer.runtime.bloomFilter.*`) could cut it. Same
  * question for the dedup increments (d15/d17), whose corpus⋈arrival
  * joins are the 100 TB read path.
  *
  * This probe measures it honestly at stress scale: the FACT side
  * replicated `mult`× (how a fact table actually grows), dimensions
  * fixed, each query timed over `passes` passes with the filter OFF
  * vs FORCED ON (application-side threshold dropped to 0, creation
  * side allowed up to 100 MB), and the plan grepped for
  * `might_contain` so a mode that silently didn't inject can't
  * masquerade as a null result.
  *
  * Not part of the driver contract ([[Stress]] class).
  * Findings land in docs/PLANS.md.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.RtFilter [mult] [passes]
  */
object RtFilter {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val passes = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cores = cpus, appName = "graft-rtfilter")
    spark.sparkContext.setLogLevel("ERROR")

    // record the session defaults the driver's bench runs under
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled")
    keys.foreach(k => System.err.println(
      s"[rtfilter] default $k = ${spark.conf.getOption(k).getOrElse("<unset>")}"))

    // fact replicated, dims fixed
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    val liRep = (0 until mult).map(_ => li).reduce(_ unionAll _)
    val docsBase = Tables.documents(spark, dir).select("doc_id", "text")
    require(docsBase.agg(max("doc_id")).head.getLong(0) < 10000000L,
      "doc_id exceeds the replication stride")
    val docsRep = (0 until mult).map { k =>
      docsBase.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"), col("text"))
    }.reduce(_ unionAll _)
    // the d17/d19 production asymmetry: corpus grows, increment fixed
    val incIn = docsRep.filter(col("doc_id") % 10 < 8)
      .unionAll(docsBase.filter(col("doc_id") % 10 >= 8))

    def queries: Map[String, () => DataFrame] = Map(
      "q51" -> (() => operators.Analytics4.q51From(liRep, Tables.part(spark, dir))),
      "q45" -> (() => operators.Analytics3.q45From(liRep,
        Tables.orders(spark, dir), Tables.customer(spark, dir))),
      "d15" -> (() => operators.Dedup.d15From(incIn)),
      "d17" -> (() => operators.Dedup.incrementalSpansFrom(incIn)))

    def setMode(on: Boolean): Unit =
      if (on) {
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        spark.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      } else
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")

    // warm-up outside any timed region
    setMode(false)
    queries("q51")().count()

    val results = for (name <- queries.keys.toSeq.sorted; on <- Seq(false, true)) yield {
      setMode(on)
      val df = queries(name)()
      val injected = df.queryExecution.executedPlan.toString.contains("might_contain")
      val walls = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = df.count()
        val w = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[rtfilter] $name on=$on injected=$injected " +
          f"wall=$w%6.2fs rows=$n")
        w
      }
      val med = walls.sorted.apply(walls.size / 2)
      (name, on, injected, med)
    }

    val js = results.map { case (n, on, inj, med) =>
      s""""${n}_${if (on) "on" else "off"}":{"injected":$inj,"median_sec":${f"$med%.3f"}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"rtfilter","mult":$mult,"passes":$passes,"results":$js}""")
    spark.stop()
  }
}
