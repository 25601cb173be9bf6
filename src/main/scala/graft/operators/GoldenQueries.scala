package graft.operators

import graft.Q
import graft.surql.Golden
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The reference's golden language-test corpus as a CORRECTNESS entry.
  *
  * The row runs the FULL corpus (1,480 `.surql` files under
  * /root/reference/language-tests/tests) through the graft.surql engine —
  * parse → execute → compare against each file's TOML-in-comment
  * expectations — and emits one row per category: (category, floor, ok)
  * where `ok = passed assertions ≥ pinned floor`. The oracle pins every
  * category's floor (resource `golden_floors.txt`, regenerated whenever
  * coverage grows), so ANY category regressing below its floor turns the
  * row red, while coverage growth keeps it green. This replaces the
  * round-2 per-file manifest, whose pinned subset could not measure
  * whole-corpus coverage.
  *
  * When the corpus directory is absent (a clone without the reference
  * checkout), no files run: every category counts 0 passed assertions, so
  * every row reports `ok = false` and the row is red rather than the
  * DataFrame build throwing. One line on stderr says why. `Golden.runPaths`
  * itself is deliberately left strict — `GenFloors` writes
  * `golden_floors.txt` from it, and a silent empty run there would
  * overwrite the floors with nothing. */
object GoldenQueries {

  private lazy val floors: Seq[(String, Long)] = {
    val in = getClass.getResourceAsStream("/golden_floors.txt")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(cat, floor) = line.split('\t')
      (cat, floor.toLong)
    }.toVector
    finally src.close()
  }

  private val testsRoot = "/root/reference/language-tests/tests"

  val surqlGolden = Q("surql_golden", {
    val rows = floors.sortBy(_._1).map { case (cat, floor) =>
      s"('${cat.replace("'", "''")}', $floor, true)"
    }.mkString(",\n")
    s"""SELECT * FROM (VALUES
        $rows) t(category, floor, ok) ORDER BY category"""
  }) { (spark, _) =>
    val root = Paths.get(testsRoot)
    val outcomes =
      if (Files.isDirectory(root)) Golden.runPaths(root, root)
      else {
        System.err.println(
          "[surql_golden] reference corpus not present: every category reports ok = false")
        Seq.empty
      }
    val byCat = scala.collection.mutable.LinkedHashMap[String, Long]()
    outcomes.foreach { o =>
      val rel = root.relativize(o.path).toString
      val cat = rel.split('/').take(2).mkString("/")
      byCat(cat) = byCat.getOrElse(cat, 0L) + o.passed
    }
    import spark.implicits._
    floors.sortBy(_._1).map { case (cat, floor) =>
      (cat, floor, byCat.getOrElse(cat, 0L) >= floor)
    }.toDF("category", "floor", "ok").orderBy("category")
  }

  val all: Seq[Q] = Seq(surqlGolden)
}
