package graft

import org.apache.spark.sql.functions._
import graft.functions.{HashExpressions, TextFunctions}

/** The custom Catalyst expressions (tight-loop eval) must agree exactly
  * with the compositional higher-order-function definitions they replace
  * — same portable semantics, two implementations.
  */
class HashExpressionsSpec extends SparkTestBase {
  private val docs = () => sources.Tables.documents(spark, sf())

  test("MinHashBandKeys equals the compositional minhash/band pipeline") {
    val custom = docs().select(
      col("doc_id"),
      HashExpressions.minhash_band_keys(col("text")).as("bands"))
    val composed = docs().select(
      col("doc_id"),
      TextFunctions.lshBands(
        TextFunctions.minhashSig(TextFunctions.shingles3(col("text")))).as("bands"))
    assert(custom.exceptAll(composed).count() === 0)
    assert(composed.exceptAll(custom).count() === 0)
  }

  test("SimHash64 equals the compositional simhash fold") {
    val custom = docs().select(
      col("doc_id"), HashExpressions.simhash64(col("text")).as("s"))
    val composed = docs().select(
      col("doc_id"), TextFunctions.simhashBits("text").as("s"))
    assert(custom.exceptAll(composed).count() === 0)
  }

  test("sketch expressions run inside whole-stage codegen (no fallback)") {
    val df = sources.Tables.documents(spark, sf()).select(
      HashExpressions.minhash_band_keys(col("text")).as("b"),
      HashExpressions.simhash64(col("text")).as("s"),
      HashExpressions.token_stats(col("text")).as("t"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[minhash_band_keys""".r.findFirstIn(plan).isDefined, plan)
  }

  test("minhash_union sketch is partition-invariant (merge is correct)") {
    import graft.functions.HashExpressions.{minhash_signature, minhash_union}
    def sketch(parts: Int) = sources.Tables.documents(spark, sf())
      .repartition(parts)
      .select(col("source"), minhash_signature(col("text")).as("sig"))
      .groupBy(col("source"))
      .agg(minhash_union(col("sig")).as("sig"))
      .select(col("source"), concat_ws(",", col("sig")).as("s"))
    val one = sketch(1).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val many = sketch(7).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(one === many) // partial-merge path must equal single-buffer path
  }

  test("connected components: every candidate pair lands in one component") {
    val comp = graft.operators.Dedup.components(spark, sf())
      .select(col("doc_id"), col("component_id"))
    val pairs = graft.operators.Dedup.minhashPairs(spark, sf())
    val split = pairs
      .join(comp.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("component_id", "ca"), "doc_a")
      .join(comp.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("component_id", "cb"), "doc_b")
      .filter(col("ca") =!= col("cb")).count()
    assert(split === 0)
    // component id is always the minimum member
    assert(comp.filter(col("component_id") > col("doc_id")).count() === 0)
  }

  test("shingles3 matches the reference semantics on edge cases") {
    import spark.implicits._
    val edge = Seq("", "one", "one two", "one two three", "a  b   c d",
      " padded  text here ").toDF("text")
    val got = edge.select(TextFunctions.shingles3(col("text")).as("sh"))
      .as[Seq[String]].collect()
    assert(got(0) === Seq(""))                       // empty → whole norm
    assert(got(1) === Seq("one"))
    assert(got(2) === Seq("one two"))
    assert(got(3) === Seq("one two three"))
    assert(got(4) === Seq("a b c", "b c d"))         // multi-space collapse
    assert(got(5) === Seq("padded text here"))       // trim first
  }

  test("fingerprints are stable and order-sensitive where documented") {
    import spark.implicits._
    val df = Seq("alpha beta gamma", "gamma beta alpha").toDF("text")
    val fps = df.select(
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.rollingHash(col("text")).as("rh")).collect()
    assert(fps(0).getLong(0) !== fps(1).getLong(0))  // content differs
    assert(fps(0).getLong(1) !== fps(1).getLong(1))  // order differs
    val again = df.select(TextFunctions.rollingHash(col("text"))).collect()
    assert(again.map(_.getLong(0)).toSeq === fps.map(_.getLong(1)).toSeq)
  }

  test("connected components refuses to ship non-converged labels") {
    import spark.implicits._
    // A 100-node chain has diameter 99. With pointer doubling the
    // frontier reach is ~2^r per round (d3 ≈ 14), so a 3-round bound
    // must throw rather than return labels where the chain is still
    // split into partial components — and ~7 doubling rounds converge
    // it, where plain propagation would need 99.
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val nodes = (0L to 99L).toDF("doc_id")
    val e = intercept[IllegalStateException] {
      graft.operators.Dedup.componentsFromPairs(spark, pairs, nodes, maxRounds = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // with the doubling bound the same chain converges to one component
    val ok = graft.operators.Dedup
      .componentsFromPairs(spark, pairs, nodes, maxRounds = 20).collect()
    assert(ok.map(_.getAs[Long]("component_id")).toSet === Set(0L))
  }

  test("no Column code under src/main/scala but TextFunctions builds an md5 integer") {
    import scala.jdk.CollectionConverters._
    val rule = "conv(substring(md5("
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val texts = try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
      .filter(_._2.contains(rule)).toMap finally files.close()
    assert(texts.keySet === Set("graft/functions/TextFunctions.scala",
      "graft/operators/Dedup.scala"))
    assert(texts("graft/functions/TextFunctions.scala").split(java.util.regex.Pattern.quote(rule),
      -1).length === 2, "TextFunctions holds the rule once")
    // the one exemption: Dedup.winnow's SQL-string let-binding, whose
    // gram hash must stay a lambda variable inside its `expr`
    val dedup = texts("graft/operators/Dedup.scala")
    val at = dedup.indexOf(rule)
    val open = dedup.lastIndexOf(".withColumn(\"fps\", expr(", at)
    assert(dedup.indexOf(rule, at + 1) === -1 && open >= 0 &&
      dedup.indexOf(".stripMargin", open) > at,
      "Dedup may hold the rule only inside winnow's let-binding expr")
  }
}
