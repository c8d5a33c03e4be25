package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Keys

/** The native SanitizeKeyParts expression must be byte-identical to the
  * specification form `concat_ws("-", parts.map(c =>
  * lower(regexp_replace(c, "[^a-zA-Z0-9]", ""))))` — which is also exactly
  * what the DuckDB oracle computes (Oracles.san/key4). Checked over a
  * seeded ScalaCheck sample including unicode, empties, nulls, and long
  * strings, plus pinned edge cases.
  */
class KeysSpec extends SparkSpec {

  private def referenceKey(parts: Seq[String]): String =
    parts
      .filter(_ != null)
      .map(p => p.take(20000).replaceAll("[^a-zA-Z0-9]", "").toLowerCase)
      .mkString("-")

  test("sanitize-key expression matches the regexp specification form") {
    import spark.implicits._
    val gen = Gen.listOfN(
      4,
      Gen.frequency(
        6 -> Gen.asciiPrintableStr,
        2 -> Gen.stringOf(Gen.frequency(
          3 -> Gen.alphaNumChar,
          1 -> Gen.oneOf('ä', 'Ç', 'İ', 'K', '日', '本', '€', 'ß', 'é')
        )),
        1 -> Gen.const(""),
        1 -> Gen.const(null: String)
      )
    )
    val samples: Seq[(String, String, String, String)] =
      (0 until 500).flatMap { i =>
        gen(Gen.Parameters.default, Seed(i.toLong)).map {
          case List(a, b, c, d) => (a, b, c, d)
          case other            => (other.mkString, "", "", "")
        }
      } ++ Seq(
        ("Turn", "turn-12", "conv-000042-20240101", "12"),
        ("Endpoint", "/api/orders/{id}", "", "-1"),
        ("X", "a" * 3000, "c", "0"), // name cap at 2000 chars
        ("ümlaut", "naïve", "日本語abc", "7")
      )

    val df = samples.toDF("a", "b", "c", "d")
    val got = df
      .select(
        Keys
          .nodeKey(col("a"), col("b"), col("c"), col("d"))
          .as("k")
      )
      .as[String]
      .collect()

    val expected = samples.map { case (a, b, c, d) =>
      referenceKey(Seq(a, Option(b).map(_.take(2000)).orNull, c, d))
    }
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"sample $i: got '$g' expected '$e' input=${samples(i)}")
    }
  }

  test("verb variant appends sanitized verb; null verb skipped") {
    import spark.implicits._
    val df = Seq(("Endpoint", "/api/x", "", "-1", "GET"), ("Endpoint", "/api/x", "", "-1", null))
      .toDF("t", "n", "c", "i", "v")
    val got = df
      .select(Keys.nodeKey(col("t"), col("n"), col("c"), col("i"), Some(col("v"))).as("k"))
      .as[String]
      .collect()
      .toSeq
    assert(got == Seq("endpoint-apix--1-get", "endpoint-apix--1"))
  }

  test("non-string children fail at analysis, not at runtime") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("i", "s")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(
        graft.functions.Keys.nodeKey(col("i"), col("s"), col("s"), col("s")).as("k")
      ).collect()
    }
    assert(err.getMessage.toLowerCase.contains("type"))
  }

  test("interpreted eval path (no codegen) agrees with codegen path") {
    // constant folding runs the interpreted eval() — compare to the
    // codegen'd row path on the same literal input
    import spark.implicits._
    val lit4 = Keys.nodeKey(lit("A-B"), lit("x_y!"), lit("Çc"), lit("-5"))
    val folded = Seq(1).toDF("i").select(lit4.as("k")).as[String].head()
    assert(folded == referenceKey(Seq("A-B", "x_y!", "Çc", "-5")))
  }
}
