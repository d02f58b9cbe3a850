package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** The runner behind graft.Bench and graft.Verify, driven on the shared
  * session with cheap sf0.001 faces.
  */
class HarnessSpec extends SparkSuite {

  private val json = new ObjectMapper()

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-harness-")
    try body(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  test("the trailing-sweep reader keeps sub-ms and -1 medians and loses only a malformed entry") {
    withDir { dir =>
      val f = dir.resolve("bench_times.json")
      Files.writeString(f,
        """{"metric":"total","value":1.25,"unit":"sec","queries":{"a_fast":8.3E-4,"b_crash":-1.0,""" +
          """"c_bad":"1.5x","d_ok":1.25},"failed":["b_crash"],"rerun":{},"sf":"sf"}""")
      assert(Harness.trailing(f) == Map("a_fast" -> 8.3e-4, "b_crash" -> -1.0, "d_ok" -> 1.25))
      assert(Harness.trailing(dir.resolve("missing.json")).isEmpty)
    }
  }

  test("an unknown face name fails before any face runs") {
    val e = intercept[IllegalArgumentException](Harness.select(Seq("q1_agg", "no_such_face")))
    assert(e.getMessage.contains("no_such_face"))
    assert(Harness.select(Nil) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a named-face Bench run prints the sweep's line and leaves bench_times.json byte-identical") {
    withDir { dir =>
      val out = dir.resolve("bench_times.json")
      val committed =
        """{"metric":"total","value":2.0,"unit":"sec","queries":{"q1_agg":1.0,"q3_join_topn":1.0},""" +
          """"failed":[],"rerun":{},"sf":"sf"}""" + "\n"
      Files.writeString(out, committed)
      val line = Harness.bench(spark, sf, out, Seq("q1_agg"))
      assert(Files.readString(out) == committed)
      val node = json.readTree(line)
      assert(line.startsWith("{\"metric\""))
      assert(node.fieldNames().asScala.toSeq ==
        Seq("metric", "value", "unit", "queries", "failed", "rerun", "sf"))
      assert(node.get("queries").fieldNames().asScala.toSeq == Seq("q1_agg"))
      val t = node.get("queries").get("q1_agg").asDouble()
      assert(t > 0 && node.get("value").asDouble() == t)
      assert(node.get("failed").isEmpty && node.get("rerun").isEmpty)
      assert(node.get("sf").asText() == sf)
    }
  }

  test("a crashing face is timed -1 and listed as failed, and every survived failure prints its cause") {
    withDir { dir =>
      val noTables = dir.resolve("no_tables").toString
      val err = new java.io.ByteArrayOutputStream()
      val saved = System.err
      System.setErr(new java.io.PrintStream(err, true))
      val line =
        try {
          Harness.verify(spark, noTables, dir.resolve("verify").toString, Seq("q1_agg"), Map.empty)
          Harness.bench(spark, noTables, dir.resolve("bench_times.json"), Seq("q1_agg"))
        } finally System.setErr(saved)
      val node = json.readTree(line)
      assert(node.get("queries").get("q1_agg").asDouble() == -1.0)
      assert(node.get("failed").elements().asScala.map(_.asText()).toSeq == Seq("q1_agg"))
      assert(node.get("value").asDouble() == 0.0)
      assert(!Files.exists(dir.resolve("verify").resolve("q1_agg")))
      assert(Files.readString(dir.resolve("verify").resolve("queries.json")) == "[\"q1_agg\"]")
      val cause = """ failed: [\w.$]+(Exception|Error): \S.*"""
      val lines = err.toString.linesIterator.filter(_.startsWith("[")).toSeq
      for (what <- Seq("[verify] q1_agg dump", "[bench] q1_agg warm-up", "[bench] dedup_exact warm-up",
                       "[bench] q1_agg timed rep"))
        assert(lines.exists(l => l.startsWith(what) && l.drop(what.length).matches(cause)), lines)
    }
  }

  test("Verify dumps two faces, and queries.json and oracle_sql.json parse back") {
    withDir { dir =>
      val oracle = Map("q1_agg" -> "SELECT\t1\r\n", "q3_join_topn" -> "SELECT 'a\u0001b' \"q\" \\")
      Harness.verify(spark, sf, dir.toString, Seq("q3_join_topn", "q1_agg"), oracle)
      val faces = json.readTree(dir.resolve("queries.json").toFile)
      assert(faces.elements().asScala.map(_.asText()).toSeq == Seq("q1_agg", "q3_join_topn"))
      val back = json.readTree(dir.resolve("oracle_sql.json").toFile)
      assert(back.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap == oracle)
      for (face <- Seq("q1_agg", "q3_join_topn"))
        assert(spark.read.parquet(dir.resolve(face).toString).count() ==
          SparkEntry.queries(face)(spark, sf).count())
    }
  }

  test("plan mode writes <face>_<tag>.txt and a one-line summary per face") {
    withDir { dir =>
      val lines = Harness.plans(spark, sf, dir.toString, "before", Seq("q1_agg"))
      val plan = Files.readString(dir.resolve("q1_agg_before.txt"))
      assert(plan.contains("== Physical Plan =="))
      assert(lines.size == 1 && lines.head.startsWith("q1_agg: codegen spans="), lines)
      // q1_agg's scan-filter-aggregate is whole-stage codegen'd; before
      // AQE's stages run its plan holds no span at all
      val spans = """codegen spans=(\d+) """.r.findFirstMatchIn(lines.head).map(_.group(1).toInt)
      assert(spans.exists(_ > 0), lines)
    }
  }
}
