package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.classic

import graft.plans.GraftExtensions

/** [[GraftSession]] is the one session setup: specs run under its
  * settings, and no other source file builds a session. */
class GraftSessionSpec extends SparkSpec {
  test("the spec session has the builder's settings and the graft list from the start") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(spark.sparkContext.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    // no TopK.ensure here: the builder installed the list
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    assert(exp.extraStrategies.filter(GraftExtensions.strategies.contains) ==
      GraftExtensions.strategies)
    assert(exp.extraOptimizations.filter(GraftExtensions.rules.contains) ==
      GraftExtensions.rules)
    val r = spark.sql("SELECT vec_dot(array(1.0d), array(2.0d)), interleave_bits(1L, 0L)").head()
    assert(r.getDouble(0) == 2.0 && r.getLong(1) == 1L)
  }

  test("no source file but the builder builds a session") {
    val needle = "SparkSession" + ".builder" // split so this file does not match
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repository root: ${src.toAbsolutePath}")
    val walk = Files.walk(src)
    val hits: Seq[Path] =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(needle)).toSeq
      finally walk.close()
    assert(hits.map(_.toString) == Seq("src/main/scala/graft/GraftSession.scala"),
      s"build sessions with GraftSession.create, not by hand: ${hits.mkString(", ")}")
  }
}
