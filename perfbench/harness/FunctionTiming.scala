package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.SqlFunctions

/** Per-row cost of the custom codegen expressions, timed through their
  * registered SQL names over a cached frame: the median time of an
  * aggregate over the expression, minus the median time of the same scan
  * reducing only the expression's input, divided by the row count. The text
  * functions run over the documents, the vector function over embedding
  * pairs, many more of them because it is cheaper by a factor of hundreds
  * and its difference would otherwise be lost in the scan's jitter. */
object FunctionTiming {
  private val copies = 2
  private val vectorCopies = 100
  private val reps = 5

  /** name → (expression reduced to one value, the same scan without it,
    * the cached view it runs over) */
  private val cases: Seq[(String, String, String, String)] = Seq(
    ("graft_minhashes", "bit_xor(element_at(graft_minhashes(toks, 128), 1))",
      "bit_xor(size(toks))", "perfbench_fx"),
    ("graft_band_hashes", "bit_xor(element_at(graft_band_hashes(sig, 4), 1))",
      "bit_xor(size(sig))", "perfbench_fx"),
    ("graft_simhash64", "bit_xor(graft_simhash64(toks))", "bit_xor(size(toks))",
      "perfbench_fx"),
    ("graft_cosine_sim", "sum(graft_cosine_sim(emb, emb2))",
      "sum(size(emb) + size(emb2))", "perfbench_vx"),
    ("graft_winnow64", "bit_xor(graft_winnow64(text, 5, 8))",
      "bit_xor(length(text))", "perfbench_fx"))

  def run(spark: SparkSession, corpus: String, spans: Harness.Spans): Map[String, Any] = {
    SqlFunctions.register(spark)
    val docs = Tables.load(spark, corpus, "documents")
    val emb = Tables.load(spark, corpus, "embeddings")
    val nVec = emb.count()
    val texts = docs
      .crossJoin(spark.range(copies).toDF("copy"))
      .select(col("text"), split(col("text"), " ").as("toks"))
      .selectExpr("*", "graft_minhashes(toks, 128) AS sig")
      .cache()
    val vectors = emb.select(col("vec_id"), col("embedding").as("emb"))
      .join(emb.select(col("vec_id").as("v2"), col("embedding").as("emb2")),
        pmod(col("vec_id") + 1, lit(nVec)) === col("v2"))
      .crossJoin(spark.range(vectorCopies).toDF("copy"))
      .select(col("emb"), col("emb2"))
      .cache()
    val rows = Map("perfbench_fx" -> texts.count(), "perfbench_vx" -> vectors.count())
    texts.createOrReplaceTempView("perfbench_fx")
    vectors.createOrReplaceTempView("perfbench_vx")
    def time(sel: String, view: String): Long = {
      val t0 = System.nanoTime()
      spark.sql(s"SELECT $sel FROM $view").collect()
      System.nanoTime() - t0
    }
    def median(xs: Seq[Long]) = xs.sorted.apply(xs.size / 2)
    val res = mutable.LinkedHashMap[String, Any]("rows" -> rows)
    cases.foreach { case (name, withExpr, without, view) =>
      val t0 = System.nanoTime()
      time(withExpr, view); time(without, view) // compile both plans before timing
      val a = (1 to reps).map(_ => time(withExpr, view))
      val b = (1 to reps).map(_ => time(without, view))
      spans.add(s"functions.$name", t0, System.nanoTime(), "functions", -1)
      res(name) = (median(a) - median(b)).toDouble / rows(view)
    }
    texts.unpersist(blocking = true)
    vectors.unpersist(blocking = true)
    res.toMap
  }
}
