package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.plans.CosineSimilarity
import graft.sources.Ingest

/** Native expression + ingestion surfaces. */
class PlansSpec extends SparkSpec {

  test("native cosine expression matches the HOF formulation (interpreted + codegen)") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sf())
      .select(
        call_function("graft_cosine", col("embedding"), col("embedding")).as("self"),
        VectorFunctions.cosine(col("embedding"), col("embedding")).as("hof"))
    val rows = e.collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
    }

    val pairwise = Tables.embeddings(spark, sf()).limit(50).select(col("embedding").as("a"), col("vec_id").as("ia"))
      .crossJoin(Tables.embeddings(spark, sf()).limit(50).select(col("embedding").as("b"), col("vec_id").as("ib")))
      .select(
        call_function("graft_cosine", col("a"), col("b")).as("native"),
        VectorFunctions.cosine(col("a"), col("b")).as("hof"))
    pairwise.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
    }
  }

  test("native cosine rejects non-float-array inputs at analysis time") {
    CosineSimilarity.register(spark)
    val s = spark; import s.implicits._
    val bad = Seq((1, 2)).toDF("a", "b")
    val e = intercept[Exception] {
      bad.select(call_function("graft_cosine", col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("array<float>"))
  }

  test("native PQ ADC score matches the HOF lookup chain; malformed input is null") {
    graft.plans.PqAdcScore.register(spark)
    val s = spark; import s.implicits._
    // m=2 subspaces, k=3 cells: ip/cn flattened [subspace \u00d7 cells]
    val ip = Seq(0.5, 1.0, -0.25, 2.0, 0.0, 0.75)
    val cn = Seq(1.0, 4.0, 0.25, 9.0, 1.0, 2.25)
    val rows = Seq(
      (Seq(0L, 2L), ip, cn, 2.0),
      (Seq(2L, 0L), ip, cn, 1.5),
      (Seq(1L, 1L), ip, cn, 1.0))
      .toDF("codes", "ip", "cn", "qn")
    def hof(mm: Int, kk: Int) = {
      def lsum(t: org.apache.spark.sql.Column) = aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(mm - 1)),
          (c, j) => element_at(t, (j * kk + c + 1).cast("int"))),
        lit(0.0), (acc, x) => acc + x)
      lsum(col("ip")) / (col("qn") * sqrt(lsum(col("cn"))))
    }
    val both = rows.select(
      call_function("graft_pq_adc", col("codes"), col("ip"), col("cn"),
        col("qn")).as("native"),
      hof(2, 3).as("hofv")).collect()
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
    // hand-check one row: codes (0,2) \u2192 num 0.5+0.75, den 1.0+2.25, qn 2
    val expect = (0.5 + 0.75) / (2.0 * math.sqrt(1.0 + 2.25))
    assert(math.abs(both.head.getDouble(0) - expect) < 1e-12)

    // tables that don't divide evenly into the code count \u2192 NULL
    val bad = Seq((Seq(0L, 1L, 0L, 1L), ip, cn, 1.0))
      .toDF("codes", "ip", "cn", "qn") // 6 table entries % 4 codes != 0
    assert(bad.select(call_function("graft_pq_adc", col("codes"), col("ip"),
      col("cn"), col("qn"))).head().isNullAt(0))
  }

  test("native minhash signature is bit-identical to the explode/agg path") {
    graft.plans.MinHashSignature.register(spark)
    val docs = Tables.documents(spark, sf())
    val pairsNative = graft.operators.Dedup.minHashPairs(
      docs, "text", "doc_id", threshold = 0.25, native = true)
    val pairsAgg = graft.operators.Dedup.minHashPairs(
      docs, "text", "doc_id", threshold = 0.25)
    assert(pairsNative.exceptAll(pairsAgg).isEmpty &&
      pairsAgg.exceptAll(pairsNative).isEmpty)

    // signature-level parity, not just pair-level
    import graft.operators.Dedup
    val sh = docs.select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val both = sh.select(col("doc_id"),
      call_function("graft_minhash", col("sh"), lit(8)).as("nat"),
      Dedup.minHashSignature(col("sh"), 8).as("hof"))
    assert(both.where(not(col("nat") === col("hof"))).count() === 0)
  }

  test("native simhash is bit-identical to the explode/agg path") {
    graft.plans.SimHash.register(spark)
    val docs = Tables.documents(spark, sf())
    val a = graft.operators.Dedup.simHashPairs(docs, "text", "doc_id",
      maxHamming = 6, native = true)
    val b = graft.operators.Dedup.simHashPairs(docs, "text", "doc_id",
      maxHamming = 6)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("native hyperplane signature is bit-identical to the HOF path") {
    graft.plans.HyperplaneSignature.register(spark)
    val e = Tables.embeddings(spark, sf())
    val both = e.select(
      call_function("graft_hyperplane", col("embedding"), lit(12), lit(64)).as("nat"),
      VectorFunctions.hyperplaneSignature(col("embedding"), 12, 64).as("hof"))
    assert(both.where(col("nat") =!= col("hof")).count() === 0)
    assert(both.select(countDistinct(col("nat"))).head().getLong(0) > 1)
  }

  test("native cdcChunks kernel is bit-identical to the HOF fallback") {
    import graft.functions.TextFunctions
    val s = spark; import s.implicits._
    // fixture docs + hand-built edges: empty, shorter-than-window, exact
    // window, repeated content (many boundaries), BMP unicode (the
    // first-UTF8-byte ascii() semantics), shift robustness (prefix splice)
    val hand = Seq(
      (9000001L, ""), (9000002L, "ab"), (9000003L, "abcdefgh"),
      (9000004L, ("the quick brown fox " * 40).trim),
      (9000005L, "caf\u00e9 na\u00efve r\u00e9sum\u00e9 " +
        "\u00fcber stra\u00dfe " * 10),
      (9000006L, "PREFIX SPLICED " + ("the quick brown fox " * 40).trim))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"), col("text"))
      .unionByName(hand)
    for ((w, mb) <- Seq((8, 6), (4, 3), (2, 1))) {
      val cmp = docs.select(
        TextFunctions.cdcChunks(col("text"), w, mb).as("native"),
        TextFunctions.cdcChunksHof(col("text"), w, mb).as("hof"))
      assert(cmp.where(not(col("native") <=> col("hof"))).isEmpty,
        s"native vs HOF cdcChunks diverged at window=$w maskBits=$mb")
    }
    // null text \u2192 empty array on both paths
    val nulls = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(TextFunctions.cdcChunks(col("text")).as("n"),
        TextFunctions.cdcChunksHof(col("text")).as("h"))
      .head()
    assert(nulls.getSeq[String](0).isEmpty && nulls.getSeq[String](1).isEmpty)
  }

  test("native cdcChunks never splits a surrogate pair (supplementary plane)") {
    import graft.functions.TextFunctions
    val s = spark; import s.implicits._
    // supplementary-plane (non-BMP) text: emoji (U+1F600..) and Deseret
    // (U+10400..) interleaved with ASCII so boundary candidates land on
    // and around surrogate pairs at several window/mask settings. Bit
    // parity with the HOF is scoped to the BMP (the HOF slices by
    // codepoint but hashes code-unit positions \u2014 internally inconsistent
    // out here); the kernel's own contract is what we pin: chunks are
    // non-empty, contain no lone surrogates, and concatenate EXACTLY to
    // the normalized text (a cut between a pair would '?'-corrupt both
    // sides).
    // U+1F600 = \ud83d\ude00 (emoji), U+10400 = \ud801\udc00 (Deseret)
    val sup = (1 to 12).map { i =>
      (9100000L + i,
        ("ab \ud83d\ude00" + "x" * (i % 5) + "\ud801\udc00 cd ") * (3 + i))
    }.toDF("doc_id", "text")
    var sawMultiChunk = false
    for ((w, mb) <- Seq((8, 6), (4, 3), (2, 1))) {
      val rows = sup.select(
        TextFunctions.cdcChunks(col("text"), w, mb).as("chunks"),
        concat_ws(" ", TextFunctions.tokens(lower(col("text"))))
          .as("norm"))
        .collect()
      rows.foreach { r =>
        val chunks = r.getSeq[String](0)
        assert(chunks.nonEmpty)
        if (chunks.length > 1) sawMultiChunk = true
        assert(chunks.mkString === r.getString(1),
          s"concatenation != normalized text at window=$w maskBits=$mb")
      }
    }
    // boundaries DO fire inside supplementary text (the guarantee above
    // is not vacuous)
    assert(sawMultiChunk)
  }

  test("extensions class registers the function at session build time") {
    // same registry mechanism the spark.sql.extensions config path uses
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)   // must not throw
  }

  test("csv and json ingest round-trip through sorted parquet") {
    val dir = Files.createTempDirectory("graft-ingest").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "id,name,score\n3,carol,1.5\n1,alice,2.5\n2,bob,0.5\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.json"),
      """{"id": 1, "tag": "x"}
        |{"id": 2, "tag": "y"}""".stripMargin)

    val csv = Ingest.csv(spark, s"$dir/in.csv")
    assert(csv.columns.toSeq === Seq("id", "name", "score"))
    Ingest.toSortedParquet(csv, s"$dir/csv_pq", "id", 1)
    val back = spark.read.parquet(s"$dir/csv_pq")
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq ===
      Seq("alice", "bob", "carol"))

    val json = Ingest.json(spark, s"$dir/in.json")
    assert(json.count() === 2)
    assert(json.columns.toSet === Set("id", "tag"))
  }

  test("fused Sq8Encode is bit-identical to the bound-scale HOF chain; zero vector encodes to zeros") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.classic.GraftShims.{column => xcol, expression => xexpr}
    val embs = Tables.embeddings(spark, sf())
    val fused = xcol(graft.plans.Sq8Encode(xexpr(col("embedding"))))
    val hofBound = embs
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.int8Scale(col("embedding")).as("__s"))
      .select(col("vec_id"),
        xcol(graft.plans.Sq8Pack(xexpr(
          VectorFunctions.int8Quantize(col("embedding"), col("__s")))))
          .as("hof"))
    val both = embs.select(col("vec_id"), fused.as("fused"))
      .join(hofBound, "vec_id")
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.util.Arrays.equals(
        r.getAs[Array[Byte]]("fused"), r.getAs[Array[Byte]]("hof")),
        s"codes differ for vec ${r.getLong(0)}")
    }
    val z = Seq((1L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
      .select(xcol(graft.plans.Sq8Encode(xexpr(col("embedding")))).as("c"))
      .head().getAs[Array[Byte]](0)
    assert(z.toSeq === Seq.fill(8)(0: Byte))
    // NaN elements: the HOF chain's greatest() makes the scale NaN and
    // the ANSI int cast throws; the fused kernel must NOT silently emit
    // a finite scale + garbage codes \u2014 it yields NULL (and a healthy
    // row in the same batch still encodes)
    val nan = Seq(
      (1L, Array(1.0f, Float.NaN, 2.0f)),
      (2L, Array(1.0f, -2.0f, 0.5f))).toDF("vec_id", "embedding")
      .select(col("vec_id"),
        xcol(graft.plans.Sq8Encode(xexpr(col("embedding")))).as("c"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(nan(1L).isNullAt(1), "NaN vector must encode to NULL, not garbage")
    assert(nan(2L).getAs[Array[Byte]](1).toSeq === Seq[Byte](64, -127, 32))
  }

  test("null-capable kernels survive NON-NULLABLE input chains under codegen") {
    // every kernel that can emit NULL for malformed input must declare
    // nullable=true: with a non-nullable child (array()/lit chains),
    // nullSafeCodeGen otherwise pins ev.isNull to the `false` constant
    // and the generated `isNull = true` is an illegal Java lvalue \u2014
    // janino fails the WHOLE stage (found by the cold-bench PQ encode
    // over a freshly-built corpus). Literal/array() inputs here are
    // exactly the non-nullable shape.
    graft.plans.PqAdcScore.register(spark)
    graft.plans.Sq8Cosine.register(spark)
    graft.plans.ImageDHash.register(spark)
    graft.plans.ImageAHash.register(spark)
    import org.apache.spark.sql.classic.GraftShims.{column => xcol, expression => xexpr}
    val s = spark; import s.implicits._
    val one = Seq(1).toDF("i")
    val packed = one.select(
      xcol(graft.plans.PqPackCodes(
        xexpr(array(lit(0L), lit(2L))))).as("codes"),
      xcol(graft.plans.Sq8Pack(
        xexpr(array(lit(1), lit(-2))))).as("sq"))
    val pr = packed.head()
    assert(pr.getAs[Array[Byte]](0).toSeq === Seq[Byte](0, 2))
    assert(pr.getAs[Array[Byte]](1).toSeq === Seq[Byte](1, -2))
    val scored = packed.select(
      call_function(graft.plans.PqAdcScore.name,
        xcol(graft.plans.PqPackCodes(xexpr(array(lit(0L), lit(2L))))),
        array(Seq(0.5, 1.0, -0.25, 2.0, 0.0, 0.75).map(lit): _*),
        array(Seq(1.0, 4.0, 0.25, 9.0, 1.0, 2.25).map(lit): _*),
        lit(2.0)).as("adc"),
      call_function(graft.plans.Sq8Cosine.name, col("sq"),
        array(lit(1.0f), lit(-2.0f))).as("cos"))
    val sr = scored.head()
    assert(!sr.isNullAt(0) && math.abs(sr.getDouble(1) - 1.0) < 1e-9)
    graft.plans.ImagePHash.register(spark)
    val raster = lit(Array.tabulate[Byte](72)(i => (i % 17).toByte))
    val raster16 = lit(Array.tabulate[Byte](
      graft.plans.ImageHash.PRasterLen)(i => (i % 29).toByte))
    val hr = one.select(
      call_function(graft.plans.ImageDHash.name, raster).as("d"),
      call_function(graft.plans.ImageAHash.name, raster).as("a"),
      call_function(graft.plans.ImagePHash.name, raster16).as("p")).head()
    assert(!hr.isNullAt(0) && !hr.isNullAt(1) && !hr.isNullAt(2))
    assert(hr.getLong(2) === graft.plans.ImagePHash.hash(Array.tabulate[Byte](
      graft.plans.ImageHash.PRasterLen)(i => (i % 29).toByte)))
  }
}
