package graft

import graft.functions.{TextFunctions, VectorFunctions}
import graft.functions.expressions.{GraftExpressions, NativeKernel}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
import org.apache.spark.sql.types.StructType

class ExpressionsSpec extends GraftSpec {

  test("native dot_product equals the HOF fold bit-for-bit") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id")).limit(500)
    val diff = pairs.select(
      (VectorFunctions.dot(col("a"), col("b")) -
        VectorFunctions.dotHof(
          transform(col("a"), _.cast("double")),
          transform(col("b"), _.cast("double")))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getDouble(0)
    assert(diff === 0.0)
  }

  test("native poly_hash equals the HOF fold on the corpus") {
    val n = Tables.documents(spark, sf)
      .select(TextFunctions.polyHash(col("text")).as("a"),
        TextFunctions.polyHashHof(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(n === 0)
  }

  test("native expressions stay inside whole-stage codegen") {
    val plan = Tables.embeddings(spark, sf)
      .select(VectorFunctions.dot(col("embedding"), col("embedding")),
        GraftExpressions.poly_hash(col("vec_id").cast("string")))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen stages
    assert(plan.contains("*(1) Project [dotproduct"))
  }

  test("SQL registration via GraftExtensions") {
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_sql")
    val r = spark.sql(
      """SELECT graft_dot(embedding, embedding) AS d,
        |       graft_poly_hash(CAST(vec_id AS STRING)) AS h
        |FROM emb_sql LIMIT 5""".stripMargin).collect()
    assert(r.length === 5 && r.forall(row => row.getDouble(0) > 0))
  }

  test("kernels reject null elements and ragged lengths loudly, never silently") {
    import spark.implicits._
    // through the unsafe accessors a null slot would read as 0.0 —
    // a silently-wrong dot product; the kernel must name the problem
    val withNull = Seq((Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b")
    val e1 = intercept[Exception] {
      withNull.select(GraftExpressions.dot_product(col("a"), col("b"))).collect()
    }
    assert(e1.getMessage.contains("null array element")
      || Option(e1.getCause).exists(_.getMessage.contains("null array element")))
    // mismatched lengths: a prefix dot would mask corrupt vectors
    val ragged = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val e2 = intercept[Exception] {
      ragged.select(GraftExpressions.dot_product(col("a"), col("b"))).collect()
    }
    assert(e2.getMessage.contains("length mismatch")
      || Option(e2.getCause).exists(_.getMessage.contains("length mismatch")))
    // excise_spans: ends shorter than starts must error, not read OOB
    val spans = Seq((Seq("a", "b", "c"), Seq(0L, 2L), Seq(1L))).toDF("t", "s", "e")
    val e3 = intercept[Exception] {
      spans.select(GraftExpressions.excise_spans(col("t"), col("s"), col("e"))).collect()
    }
    assert(e3.getMessage.contains("length mismatch")
      || Option(e3.getCause).exists(_.getMessage.contains("length mismatch")))
  }

  test("type errors are reported cleanly") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L), Seq(1.0, 2.0))).toDF("ints", "dbls")
    val e = intercept[Exception] {
      df.select(GraftExpressions.dot_product(col("ints"), col("dbls"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("dot_product") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch") ||
      e.getMessage.toLowerCase.contains("array"))
    // every kernel, each child replaced by a boolean column no kernel
    // accepts: analysis fails and the message names the kernel
    val frame = kernelFrame()
    kernelCalls.map(c => expression(c).asInstanceOf[NativeKernel]).foreach { k =>
      val bad = k.withNewChildren(k.children.map(_ => expression(col("flag"))))
      val err = intercept[AnalysisException](frame.select(column(bad)))
      assert(err.getMessage.contains(s"${k.id} needs"), err.getMessage)
    }
    // inputs are never cast: int keys do not widen to bigint
    val zi = intercept[AnalysisException](frame.select(GraftExpressions.z_order(col("n"), col("n"))))
    assert(zi.getMessage.contains("z_order needs (bigint, bigint), got (int, int)"), zi.getMessage)
    // every constant out of range is rejected when the call is built
    import GraftExpressions._
    Seq[() => Column](
      () => poly_hash(col("s"), 1000000007L),
      () => quantize_vec(col("fv"), Double.PositiveInfinity),
      () => minhash_sigs(col("toks"), 0, 4), () => minhash_sigs(col("toks"), 3, 0),
      () => shingle_hashes(col("toks"), 0), () => positional_shingle_hashes(col("toks"), 0),
      () => linear_logit(col("toks"), 0), () => pq_adc(col("codes"), col("lut"), 0),
      () => quality_score(col("s"), Nil), () => stopword_count(col("s"), Nil),
      () => term_set_counts(col("toks"), Nil)
    ).foreach(bad => intercept[IllegalArgumentException](bad()))
  }

  test("every kernel: interpreted eval equals generated code") {
    import org.apache.spark.sql.catalyst.expressions.{InterpretedUnsafeProjection, Literal, UnsafeProjection}
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    assert(kernelCalls.map(c => expression(c).asInstanceOf[NativeKernel].id).toSet ===
      NativeKernel.table.keySet)
    // factoryMode is honoured only when spark.testing is set
    def run(mode: String, wholeStage: Boolean): (Array[Row], SparkPlan) = {
      val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
      val before = keys.map(spark.conf.getOption)
      System.setProperty("spark.testing", "true")
      try {
        spark.conf.set(keys(0), mode)
        spark.conf.set(keys(1), wholeStage.toString)
        assert(UnsafeProjection.create(Seq(Literal(1)))
          .isInstanceOf[InterpretedUnsafeProjection] === (mode == "NO_CODEGEN"))
        val df = kernelFrame().select(kernelCalls.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*)
        (df.collect(), df.queryExecution.executedPlan)
      } finally {
        System.clearProperty("spark.testing")
        keys.zip(before).foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    }
    val (interpreted, _) = run("NO_CODEGEN", wholeStage = false)
    val (generated, plan) = run("CODEGEN_ONLY", wholeStage = true)
    assert(interpreted.length === 3)
    assert(interpreted.toSeq === generated.toSeq)
    // the null row is null everywhere; the one-token doc is null for the
    // three n-gram kernels (n = 3) and for nothing else
    assert(interpreted(1).toSeq.forall(_ == null))
    val shortDocNulls = kernelCalls.indices.filter(interpreted(2).isNullAt)
      .map(i => expression(kernelCalls(i)).asInstanceOf[NativeKernel].id)
    assert(shortDocNulls.toSet ===
      Set("minhash_sigs", "shingle_hashes", "positional_shingle_hashes"))
    val projects = plan.collect { case p: ProjectExec => p }
    val inStage = plan.collect { case w: WholeStageCodegenExec =>
      w.collect { case p: ProjectExec => p } }.flatten
    assert(projects.nonEmpty && projects.size === inStage.size, plan.toString)
  }

  test("doGenCode is written once under src/main") {
    val found = SourceGuard.hits("doGenCode", Set.empty)
    assert(found.size === 1, found.mkString("\n"))
  }

  /** Three rows over every input type a kernel takes: a full row, an
    * all-null row, and a one-token doc. Built from an RDD so no
    * optimizer rule folds the projection over a local relation. */
  private def kernelFrame(): DataFrame = {
    val full = Row(1, "mail bob@example.com from 10.1.2.3 the cat sat on the mat",
      "mail bob@example.com from 10.1.2.3 the cat sat on the mat".split(" ").toSeq,
      Seq(1.5f, -2.25f, 3.0f), Seq(0.1, 0.2, 0.3), Seq(3L, 1L, 2L), Seq(4, 5, 6),
      5L, 9L, Array[Byte](0x00, 0x3c), Seq(1L), Seq(3L), Seq(0L, 1L), Seq(10L, 20L, 30L, 40L),
      "HTTP://Www.Example.com:80/a/../b?x=1#f", true)
    val empty = Row.fromSeq(Seq(2) ++ Seq.fill(full.length - 2)(null) :+ true)
    val short = Row.fromSeq(Seq(3, "hi", Seq("hi")) ++ full.toSeq.drop(3).take(7) ++
      Seq(Seq(0L), Seq(1L)) ++ full.toSeq.drop(12))
    val schema = StructType.fromDDL("n int, s string, toks array<string>, fv array<float>, " +
      "dv array<double>, lv array<bigint>, iv array<int>, x bigint, y bigint, b binary, " +
      "st array<bigint>, en array<bigint>, codes array<bigint>, lut array<bigint>, " +
      "u string, flag boolean")
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(full, empty, short), 1), schema)
  }

  /** Every kernel over [[kernelFrame]], each type-dependent branch once. */
  private lazy val kernelCalls: Seq[Column] = {
    import GraftExpressions._
    val Seq(s, toks, fv, dv, lv, iv, codes, lut, u) =
      Seq("s", "toks", "fv", "dv", "lv", "iv", "codes", "lut", "u").map(col)
    Seq(dot_product(fv, fv), dot_product(dv, dv), poly_hash(s), poly_hash(s, 131L),
      token_count(s), redact_pii(s), email_count(s), repetition_stats(s),
      quantize_vec(fv, 1000.0), quantize_int8(fv), sq_dist_l(lv, lv), dot_l(lv, lv),
      pq_adc(codes, lut, 2), bigram_hash_pairs(toks), term_counts(toks),
      term_counts_text(s), quality_score(s, Seq("the", "on")),
      stopword_count(s, Seq("the", "on")), term_set_counts(toks, Seq("the", "cat")),
      half_to_float(col("b")), sim_hash60(toks), linear_logit(toks, 64),
      minhash_sigs(toks, 3, 4), shingle_hashes(toks, 3), positional_shingle_hashes(toks, 3),
      z_order(col("x"), col("y")), excise_spans(toks, col("st"), col("en")),
      bpe_encode(s, Seq(("t", "h"), ("th", "e"))), clean_text(s),
      micro_csv(fv), micro_csv(dv), raw_csv(lv), raw_csv(iv), raw_csv(toks),
      url_host(u), url_normalize(u))
  }
}
