package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** A reader that keeps only the last 2,000 characters of the bench's stdout
  * must still find a whole JSON record on its last line. */
class BenchSpec extends AnyFunSuite {
  test("the last line of the bench's stdout tail parses as JSON") {
    val rnd = new scala.util.Random(7)
    val rows: Seq[Bench.Row] = ("index_build", 9.5, None, Seq(9.5)) +:
      SparkEntry.queries.keys.toSeq.sorted.map { name =>
        val reps = Seq.fill(5)(rnd.nextDouble() * 3)
        (name, reps.sorted.apply(2), if (name == "knn_brute") Some(name) else None, reps)
      }
    val lines = Bench.stdoutLines(rows, "/data/sf0.1")
    val json = new ObjectMapper()
    // the compact record is whole JSON too, with every row's median
    val record = json.readTree(lines.head)
    assert(record.get("queries").size == rows.size)
    assert(lines.head.length > 2000, "the record alone no longer needs the short line")
    val stdout = "[bench] warm fts 1.00 s\n" + lines.mkString("\n") + "\n"
    val last = json.readTree(stdout.takeRight(2000).trim.linesIterator.toSeq.last)
    assert(last.get("n").asInt == rows.size)
    assert(last.get("failed").asInt == 1)
    assert(last.get("slowest").size == 5)
    assert(last.get("slowest").has("index_build"))
    assert(math.abs(last.get("value").asDouble - rows.map(_._2).sum) < 0.001)
    json.readTree(Bench.fullRecord(rows, "/data/sf0.1"))
  }
}
