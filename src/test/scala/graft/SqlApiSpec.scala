package graft

import org.apache.spark.sql.functions._

/** The engine surface is equally reachable through plain SQL — temp views
  * + `spark.sql`, including the injected native functions. */
class SqlApiSpec extends SparkSpec {
  import spark.implicits._

  test("SQL string query equals the DataFrame query") {
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql(
      """SELECT l_returnflag, SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
      .as[(String, Double)].collect().toMap
    val viaDf = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .as[(String, Double)].collect().toMap
    assert(viaSql == viaDf)
  }

  test("native expressions are callable from SQL after registration") {
    val h = spark.sql("SELECT poly_hash('hello') AS h").as[Long].head()
    assert(h == 99162322L) // the value pinned against DuckDB's fold
    val d = spark.sql(
      "SELECT float_vector_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").as[Double].head()
    assert(d == 11.0)
  }

  test("quantization expressions are SQL-callable with guarded literal args") {
    import org.apache.spark.sql.AnalysisException
    // SQ8: encode a 2-dim vector against mins [0,0], scales [1,0] —
    // dim 2 is constant (scale 0) and must code to 0
    val codes = spark.sql(
      "SELECT sq8_encode(array(CAST(3.4 AS FLOAT), CAST(9.0 AS FLOAT)), " +
        "array(0.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .as[Seq[Int]].head()
    assert(codes == Seq(3, 0))
    val rd = spark.sql(
      "SELECT sq8_recon_dot(array(2, 3), array(4, 5), " +
        "array(0.0D, 0.0D), array(1.0D, 1.0D)) AS d").as[Double].head()
    assert(rd == 2.0 * 4 + 3.0 * 5)
    // PQ ADC with sub=1: plain squared L2
    val adc = spark.sql(
      "SELECT pq_adc_dist(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(0.0D, 0.0D), 1) AS d").as[Double].head()
    assert(adc == 5.0)
    // pack/unpack round trip incl. the 255 ceiling
    val rt = spark.sql(
      "SELECT codes_unpack(codes_pack(array(0, 7, 255))) AS c")
      .as[Seq[Int]].head()
    assert(rt == Seq(0, 7, 255))
    // the sub/m arguments are codegen-folded literals — a column there
    // must be a clean analysis error, not a plan-time crash
    val e = intercept[AnalysisException] {
      spark.sql("SELECT pq_adc_dist(q, r, i) FROM VALUES " +
        "(array(CAST(1.0 AS FLOAT)), array(1.0D), 1) AS t(q, r, i)")
    }
    assert(e.getMessage.contains("foldable"))
  }

  test("pq_code_dot: SQL-callable, m/k guarded like the other folded args") {
    // m=1, k=2: table[(a*2+b)*1+0] — codes (0) x (1) gather index 1
    val d = spark.sql(
      "SELECT pq_code_dot(array(10.0D, 20.0D, 30.0D, 40.0D), " +
        "array(0), array(1), 1, 2) AS d").as[Double].head()
    assert(d == 20.0)
    val eCol = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT pq_code_dot(t, a, b, m, 2) FROM VALUES " +
        "(array(1.0D), array(0), array(0), 1) AS x(t, a, b, m)")
    }
    assert(eCol.getMessage.contains("foldable"))
  }

  test("shingle_hashes width argument: clean analysis errors, not plan-time NPEs") {
    // sane call still works through SQL
    val ok = spark.sql("SELECT shingle_hashes('a b c', 2) AS hs")
      .select(size(col("hs"))).as[Int].head()
    assert(ok == 2)
    // NULL width: foldable but null -> named analysis error
    val eNull = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT shingle_hashes('a b c', NULL)")
    }
    assert(eNull.getMessage.contains("shingle_hashes"))
    // non-foldable width (a column reference) -> named analysis error
    val eCol = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT shingle_hashes(c, i) FROM VALUES ('a b', 2) AS t(c, i)")
    }
    assert(eCol.getMessage.contains("foldable"))
  }

  test("coordinated_sketch_stats: SQL-callable, k guarded like shingle_hashes") {
    val r = spark.sql(
      "SELECT coordinated_sketch_stats(array(1L, 3L, 5L), array(3L, 5L, 9L), 4) AS s")
      .select(col("s.n_sample"), col("s.n_both"), col("s.n_va"), col("s.n_vb"))
      .as[(Long, Long, Long, Long)].head()
    // union = [1,3,5,9], V = all 4; both = {3,5}; A covers {1,3,5}; B {3,5,9}
    assert(r == ((4L, 2L, 3L, 3L)))
    val eCol = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT coordinated_sketch_stats(array(1L), array(1L), i) " +
        "FROM VALUES (2) AS t(i)")
    }
    assert(eCol.getMessage.contains("foldable"))
  }

  test("tokenizer kernels are SQL-callable; fused merges arg guarded") {
    val pts = spark.sql("SELECT gpt_pre_tokenize('it''s 2024!') AS p")
      .as[Seq[String]].head()
    assert(pts == Seq("it", "'s", " 2024", "!"))
    // fused pre-tokenize∘byte-encode from SQL: merge (69, 74) = "it";
    // the space rides INSIDE ' 2024''s first token (hex 20)
    val toks = spark.sql(
      "SELECT gpt_byte_bpe('it''s it', array(named_struct('l', '69', 'r', '74'))) AS t")
      .as[Seq[String]].head()
    assert(toks == Seq("6974", "27", "73", "20", "6974"),
      s"fused SQL tokens drifted: $toks")
    // decode identity straight from SQL
    val rt = spark.sql(
      "SELECT decode(unhex(concat_ws('', gpt_byte_bpe('a  b', " +
        "array(named_struct('l', '61', 'r', '20'))))), 'UTF-8') AS t")
      .as[String].head()
    assert(rt == "a  b", "SQL-side decode∘encode must be the identity")
    val eCol = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT gpt_byte_bpe('x', array(named_struct('l', s, 'r', s))) " +
        "FROM VALUES ('61') AS t(s)")
    }
    assert(eCol.getMessage.contains("foldable"))
  }

  test("ORC roundtrip preserves the telemetry lake") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val t = graft.ztbus.Fixtures.telemetry(seconds = 120).toDF()
    t.write.orc(s"$dir/orc")
    val back = spark.read.orc(s"$dir/orc")
    assert(back.count() == t.count())
    // formats don't persist nullability — compare names + types
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      t.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }
}
