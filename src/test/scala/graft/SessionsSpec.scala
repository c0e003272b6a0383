package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The one session factory and the diagnostic main built on it. */
class SessionsSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private val pinned = Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.codegen.hugeMethodLimit" -> "8000",
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
    "spark.memory.storageFraction" -> "0.25",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  test("confs at sf0.001 on 4 cores: core-count shuffles, 8*cpus AQE " +
      "floor, 16m advisory, 0.25 storage, JIT-aligned codegen, UTC") {
    val c = Sessions.confs(sf, 4).toMap
    assert(c("spark.master") === "local[4]")
    pinned.foreach { case (k, v) => assert(c.get(k) === Some(v), k) }
  }

  test("TestSpark is built through Sessions.create: the live session " +
      "resolves every pinned conf") {
    pinned.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
  }

  test("Diag.run: one phase JSON line per run and a three-section plan " +
      "file per key") {
    val dir = tempDir("graft_diag")
    val keys = Seq("agg_hash_groupby", "join_sort_merge")
    val lines = Diag.run(spark, keys, sf, 2, Some(dir.toString))
    assert(lines.size === 4)
    val phases = Seq("build", "analyze", "optimize", "plan", "toRdd",
      "count", "total")
    val field = "\"(\\w+)\":([0-9.]+)".r
    lines.zip(keys.flatMap(k => Seq(k, k))).foreach { case (l, k) =>
      assert(l.startsWith(s"""{"key":"$k","""), l)
      val m = field.findAllMatchIn(l).map(x => x.group(1) -> x.group(2))
        .toMap
      assert(m.keySet ===
        (phases ++ Seq("jobs", "build_jobs", "stages", "tasks")).toSet, l)
      phases.foreach(p => assert(m(p).toDouble <= m("total").toDouble, l))
      assert(m("jobs").toLong >= 1 && m("tasks").toLong >= m("stages").toLong,
        l)
      assert(m("build_jobs").toLong <= m("jobs").toLong, l)
    }
    keys.foreach { k =>
      val text = Files.readString(dir.resolve(s"$k.txt"))
      val sections = Seq(
        s"=== $k @ $sf (explain formatted, initial plan)",
        s"=== $k AQE-final executed plan",
        s"--- whole-stage max method bytecode sizes ($k, JIT limit 8000):")
      val at = sections.map(text.indexOf(_))
      assert(at.forall(_ >= 0) && at === at.sorted, s"$k sections: $at")
      assert(text.substring(at(0), at(1)).contains("isFinalPlan=false"))
      assert(text.substring(at(1), at(2)).contains("isFinalPlan=true"))
      assert(text.substring(at(2)).contains("  stage *("),
        s"$k: no whole-stage codegen stage measured")
    }
  }
}
