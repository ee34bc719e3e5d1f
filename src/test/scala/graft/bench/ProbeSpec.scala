package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry
import graft.spark.SparkTestBase

/** `Probe plan` and `Probe time` over two driver keys at sf0.001, through
  * the functions the main calls with its session. */
class ProbeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val keys = Seq("q1_agg", "sketch_distinct")

  /** expression and plan ids differ between two builds of one key */
  private def normalized(plan: String): String =
    plan.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  private lazy val workDir = Files.createTempDirectory("graft-probe")

  test("plan writes <key>_<suffix>.txt holding the key's formatted plan") {
    val out = workDir.resolve("plans")
    assert(Probe.plan(spark, sf, keys, Some(out -> "t")) === Nil)
    keys.foreach { key =>
      val written = new String(Files.readAllBytes(out.resolve(s"${key}_t.txt")),
        StandardCharsets.UTF_8)
      val expected = SparkEntry.queries(key)(spark, sf).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(normalized(written) === normalized(expected), key)
    }
    assert(Files.list(out).count() === keys.size)
  }

  test("time appends one line per key with its rows and cold and warm metrics") {
    val json = workDir.resolve("time.jsonl")
    Probe.time(spark, sf, keys, passes = 2, Some(json.toString))
    val lines = Files.readAllLines(json).asScala.toSeq
    assert(lines.size === keys.size)
    val mapper = new ObjectMapper()
    lines.zip(keys).foreach { case (line, key) =>
      val rec = mapper.readTree(line)
      assert(rec.fieldNames().asScala.toSeq ===
        Seq("query", "dir", "cores", "rows", "cold", "warm"))
      assert(rec.get("query").asText() === key)
      assert(rec.get("dir").asText() === sf)
      assert(rec.get("cores").asInt() === spark.sparkContext.defaultParallelism)
      assert(rec.get("rows").asLong() === SparkEntry.queries(key)(spark, sf).count(), key)
      Seq("cold", "warm").foreach { pass =>
        val m = rec.get(pass)
        assert(m.fieldNames().asScala.toSeq === Seq("sec", "tasks", "failed_tasks",
          "shuffle_read_mb", "shuffle_write_mb", "spill_mem_mb", "spill_disk_mb",
          "task_p50_ms", "task_max_ms", "stage_skew", "drain_clean"), s"$key $pass")
        assert(m.get("tasks").asInt() > 0, s"$key $pass")
        assert(m.get("failed_tasks").asInt() === 0, s"$key $pass")
      }
    }
  }

  test("an unknown key fails and names it; a key that fails to plan is returned") {
    val e = intercept[IllegalArgumentException](Probe.keys("q1_agg,no_such_key"))
    assert(e.getMessage.contains("no_such_key"))
    assert(Probe.keys("all").size === SparkEntry.queries.size)
    assert(Probe.plan(spark, "/nonexistent/sf", keys, None) === keys)
  }
}
