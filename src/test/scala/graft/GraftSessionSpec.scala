package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** One session factory, and Bench's one way of reading the previous round. */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession.scala is the only place under src/ that builds a session") {
    val needle = "SparkSession" + ".builder" // split so this file is no hit
    val hits = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => p.getFileName.toString != "GraftSession.scala")
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).toList.sorted
    assert(hits.isEmpty, s"sessions built outside GraftSession.local: $hits")
  }

  test("Bench.previousMins reads only the newest strict BENCH_FULL_r<N>.json") {
    val full = Paths.get("BENCH_FULL_r22.json")
    val dir = Files.createTempDirectory("graft_prev_mins")
    def put(name: String, body: String): Path =
      Files.writeString(dir.resolve(name), body)
    Files.copy(full, dir.resolve("BENCH_FULL_r22.json"))
    // lexically newer, numerically older: must lose to r22
    put("BENCH_FULL_r9.json", """{"sf":"/x/sf0.1","min":{"q01_a":9.0}}""")
    // not a strict round name, or not a FULL artifact: never read
    put("BENCH_FULL_r23_c8.json", """{"sf":"/x/sf0.1","min":{"q01_a":9.0}}""")
    put("BENCH_r24.json", """{"sf":"0.1","queries":{"q01":9.0}}""")

    val mins = Bench.previousMins(dir.toString, "data/sf0.1")
    val q01 = new ObjectMapper().readTree(full.toFile)
      .path("min").path("q01_scan_project").asDouble
    assert(mins.size == 185)
    assert(mins.keys.forall(_.matches("q\\d+")))
    assert(mins("q01") == q01)
    assert(Bench.previousMins(dir.toString, "data/sf0.01").isEmpty)
  }
}
