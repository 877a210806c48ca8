package graft

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.functions._
import graft.functions._

/** The native function table as the suite's session sees it: installed at
  * session build by `GraftExtensions`, with no registration call anywhere
  * in this spec. */
class NativeFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val names = NativeFunctions.table.map(_._1.funcName)

  /** Every table function's required argument count. A function added to
    * the table must be added here too (the first test checks that the key
    * sets match). */
  private val arity: Map[String, Int] = Map(
    "poly_hash" -> 1, "shingle_hashes" -> 2, "gram_hash_lens" -> 2,
    "sorted_intersect_count" -> 2, "coordinated_sketch_stats" -> 3,
    "float_vector_dot" -> 2, "graft_pq_encode" -> 5, "sq8_encode" -> 3,
    "sq8_recon_dot" -> 4, "sq8_max_abs_err" -> 4, "pq_adc_dist" -> 3,
    "pq_lut_dist" -> 3, "codes_pack" -> 1, "codes_unpack" -> 1,
    "pq_code_dot" -> 5, "graft_bloom_agg" -> 3,
    "graft_bloom_might_contain" -> 2, "url_pct_normalize" -> 1,
    "url_remove_dot_segments" -> 1, "url_idn_fold" -> 1,
    "url_registered_domain" -> 4, "url_canon_parts" -> 2, "bpe_encode" -> 2,
    "byte_bpe_encode" -> 2, "byte_bpe_encode_pre" -> 2,
    "gpt_pre_tokenize" -> 1, "gpt_byte_bpe" -> 2, "token_ids" -> 2,
    "unigram_encode" -> 2, "wordpiece_encode" -> 2,
    "repetition_signals" -> 1, "deflate_ratio" -> 1, "span_corrupt" -> 4,
    "affine_project" -> 5, "ac_screen" -> 2, "ac_redact" -> 3)

  /** The functions with at least one literal-only argument slot. */
  private val withLiteralSlot = Set("shingle_hashes", "gram_hash_lens",
    "coordinated_sketch_stats", "graft_pq_encode", "pq_adc_dist",
    "pq_lut_dist", "pq_code_dot", "graft_bloom_agg",
    "graft_bloom_might_contain", "url_registered_domain", "url_canon_parts",
    "bpe_encode", "byte_bpe_encode", "byte_bpe_encode_pre", "gpt_byte_bpe",
    "token_ids", "unigram_encode", "wordpiece_encode", "span_corrupt",
    "affine_project", "ac_screen", "ac_redact")

  private def analysisError(sql: String): AnalysisException =
    intercept[AnalysisException](spark.sql(sql))

  test("every table function is installed in the session at build") {
    assert(names.distinct.size == names.size, "duplicate table names")
    assert(names.toSet == arity.keySet)
    val registry = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val missing = names.filterNot(n =>
      registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not installed: $missing")
  }

  test("no table function shadows a Spark builtin") {
    val clash = names.filter(n =>
      FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(clash.isEmpty, s"would shadow builtins: $clash")
  }

  test("wrong arity is a named analysis error for every table function") {
    for (n <- names) {
      val tooMany = analysisError(
        s"SELECT $n(${Seq.fill(arity(n) + 2)("1").mkString(", ")})")
      assert(tooMany.getMessage.contains(n), s"$n: ${tooMany.getMessage}")
      val none = analysisError(s"SELECT $n()")
      assert(none.getMessage.contains(n), s"$n: ${none.getMessage}")
    }
  }

  test("a column or NULL in a literal slot is a named analysis error") {
    for (n <- withLiteralSlot.toSeq.sorted) {
      val cols = Seq.fill(arity(n))("c").mkString(", ")
      val eCol = analysisError(s"SELECT $n($cols) FROM VALUES (1) AS t(c)")
      assert(eCol.getMessage.contains(n) &&
        eCol.getMessage.contains("foldable"), s"$n: ${eCol.getMessage}")
      val nulls = Seq.fill(arity(n))("NULL").mkString(", ")
      val eNull = analysisError(s"SELECT $n($nulls)")
      assert(eNull.getMessage.contains(n) &&
        eNull.getMessage.contains("non-null"), s"$n: ${eNull.getMessage}")
    }
  }

  test("one SQL call per function family equals its column helper") {
    val f32 = typedLit(Seq(1.0f, 2.0f))
    val cases: Seq[(String, Column)] = Seq(
      "gram_hash_lens('a b c', 2)" ->
        HashExpressions.gramHashLens(lit("a b c"), 2),
      "graft_pq_encode(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), 1, " +
        "2, array(0, 1), array(0.0D, 0.0D, 1.0D, 2.0D))" ->
        VectorExpressions.pqEncode(f32, 1, 2, Seq(0, 1),
          Seq(0.0, 0.0, 1.0, 2.0)),
      "url_canon_parts('http://Example.com/a?utm_source=x&b=1', " +
        "array('utm_source'))" ->
        UrlExpressions.canonParts(
          lit("http://Example.com/a?utm_source=x&b=1"), Seq("utm_source")),
      "wordpiece_encode('unaffable', array('un', '##aff', '##able'))" ->
        WordPieceExpressions.wordPieceEncode(lit("unaffable"),
          Seq("un", "##aff", "##able")),
      "unigram_encode('ab', array(named_struct('piece', 'a', 'logp', " +
        "-1.0D), named_struct('piece', 'b', 'logp', -2.0D)))" ->
        UnigramExpressions.unigramEncode(lit("ab"),
          Seq("a" -> -1.0, "b" -> -2.0)),
      "token_ids(array('a', 'b'), array(named_struct('t', 'a', 'i', 7L), " +
        "named_struct('t', 'b', 'i', 9L)))" ->
        BpeExpressions.tokenIds(typedLit(Seq("a", "b")),
          Seq("a" -> 7L, "b" -> 9L)),
      "repetition_signals('a a a a b')" ->
        RepetitionExpressions.repetitionSignals(lit("a a a a b")),
      "deflate_ratio('abababababababab')" ->
        CompressExpressions.deflateRatio(lit("abababababababab")),
      "span_corrupt('a b c d e f', 3L, 0.5D, 2)" ->
        SpanExpressions.spanCorrupt(lit("a b c d e f"), lit(3L), 0.5, 2),
      "affine_project(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(1.0D, 0.0D), array(0.5D, 0.0D), 1, 2)" ->
        AffineExpressions.affineProject(f32, Array(1.0, 0.0),
          Array(0.5, 0.0), 1, 2),
      "ac_redact('a bad word', array('bad'), '*')" ->
        AcExpressions.acRedact(lit("a bad word"), Seq("bad"), "*"))
    for ((sql, c) <- cases) {
      val viaSql = spark.sql(s"SELECT $sql AS v").head().get(0)
      val viaCol = spark.range(1).select(c.as("v")).head().get(0)
      assert(viaSql != null && viaSql == viaCol, s"$sql: $viaSql vs $viaCol")
    }
    assert(spark.sql("SELECT graft_pq_encode(array(CAST(1.0 AS FLOAT), " +
        "CAST(2.0 AS FLOAT)), 1, 2, array(0, 1), " +
        "array(0.0D, 0.0D, 1.0D, 2.0D)).codes")
      .as[Seq[Int]].head() == Seq(1))
  }

  test("bloom build and probe: literal filter and scalar-subquery filter") {
    val bf = spark.range(10)
      .select(BloomFunctions.bloomAgg(col("id"), 100L))
      .head().getAs[Array[Byte]](0)
    val hits = spark.range(10)
      .where(BloomFunctions.mightContain(col("id"), lit(bf))).count()
    assert(hits == 10, "a Bloom filter has no false negatives")
    val viaSql = spark.sql("SELECT count(*) FROM range(10) WHERE " +
        "graft_bloom_might_contain(id, (SELECT graft_bloom_agg(id, 100L, " +
        "800L) FROM range(10)))")
      .as[Long].head()
    assert(viaSql == 10)
  }
}
