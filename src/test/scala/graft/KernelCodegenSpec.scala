package graft

import graft.functions.{Decontam, GraftFunctions => GF, Pq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r16 `UnaryKernelCodegen`/`BinaryKernelCodegen` bridge (swapped in
  * for `CodegenFallback` on 24 kernel expressions) claims: (a) the
  * generated code COMPILES — a Janino error would silently fall the
  * stage back to interpreted execution and forfeit exactly the fusion
  * the bridge exists for; (b) codegen and interpreted evaluation return
  * IDENTICAL values (they run the same `nullSafeEval` kernel, but the
  * cast/null plumbing around the call is generated per dataType and
  * must be right for every type class: long/int/double/boolean
  * primitives, UTF8String, ArrayData of primitives and of structs, and
  * the nullable kernel-returns-null branch).
  *
  * Method: evaluate each expression family twice under
  * `spark.sql.codegen.factoryMode` = CODEGEN_ONLY vs NO_CODEGEN, with
  * `spark.sql.codegen.fallback=false` so a broken generated method
  * FAILS the test instead of logging a warning, and compare collected
  * rows exactly. */
class KernelCodegenSpec extends SparkSuite {

  private def withModes(df: => DataFrame): (Seq[String], Seq[String]) = {
    val conf = spark.conf
    val oldMode = conf.getOption("spark.sql.codegen.factoryMode")
    val oldFb = conf.getOption("spark.sql.codegen.fallback")
    val oldWs = conf.getOption("spark.sql.codegen.wholeStage")
    def run(mode: String, ws: String): Seq[String] =
      try {
        conf.set("spark.sql.codegen.factoryMode", mode)
        conf.set("spark.sql.codegen.fallback", "false")
        conf.set("spark.sql.codegen.wholeStage", ws)
        df.collect().map(_.toString).toSeq
      } finally {
        oldMode.fold(conf.unset("spark.sql.codegen.factoryMode"))(
          conf.set("spark.sql.codegen.factoryMode", _))
        oldFb.fold(conf.unset("spark.sql.codegen.fallback"))(
          conf.set("spark.sql.codegen.fallback", _))
        oldWs.fold(conf.unset("spark.sql.codegen.wholeStage"))(
          conf.set("spark.sql.codegen.wholeStage", _))
      }
    (run("CODEGEN_ONLY", "true"), run("NO_CODEGEN", "false"))
  }

  private def assertParity(name: String)(df: => DataFrame): Unit = {
    val (gen, interp) = withModes(df)
    assert(gen == interp, s"$name: codegen vs interpreted divergence")
    assert(gen.nonEmpty, s"$name: empty result proves nothing")
  }

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "the quick brown cat naps"),
    (2L, "a a a b b c", "a b a b"),
    (3L, "", "nonempty side"),
    (4L, "résumé Café déjà vu", "resume cafe deja vu"),
    (5L, "el perro grande come la comida y la casa es bonita", "the dog eats")
  ).toDF("id", "ca", "cb")

  test("minhash/shingle/simhash family: codegen == interpreted") {
    assertParity("minhash") {
      docs.select(col("cb"),
        GF.minhashSig(split(col("ca"), " "), 16).as("sig"),
        GF.charShingleHashes(col("ca"), 5).as("sh"),
        GF.simhash64(split(col("cb"), " ")).as("sh64"))
        .select(col("sig"), col("sh"), col("sh64"),
          GF.minhashAgree(col("sig"), GF.minhashSig(split(col("cb"), " "), 16))
            .as("agree"),
          GF.sortedIntersectCount(col("sh"),
            GF.charShingleHashes(col("cb"), 5)).as("inter"))
    }
  }

  test("edit-distance / string kernels: codegen == interpreted") {
    assertParity("dp-kernels") {
      docs.select(
        GF.tokenEditDist(split(col("ca"), " "), split(col("cb"), " ")).as("ted"),
        GF.lcsLen(split(col("ca"), " "), split(col("cb"), " ")).as("lcs"),
        GF.jaroWinkler(col("ca"), col("cb")).as("jw"),
        GF.deflateRatio(col("ca"), 6).as("dr"),
        GF.normalizeText(col("ca"), "NFKC", stripAccents = true,
          caseFold = true).as("norm"),
        GF.langId(col("ca")).as("lang"))
    }
  }

  test("clipped-gram kernels: codegen == interpreted") {
    assertParity("clipped-grams") {
      docs.select(
        GF.clippedGramMatches(split(col("ca"), " "), split(col("cb"), " "), 4)
          .as("cg"),
        GF.clippedCharGramMatches(col("ca"), col("cb"), 6).as("ccg"))
    }
  }

  test("lsh buckets + bloom probes: codegen == interpreted") {
    val sketch = Decontam.buildGramBloom(
      docs.select(col("cb").as("text")), "text", 5, 1 << 12, 1e-4)
    assertParity("lsh-bloom") {
      docs.select(
        GF.cosineLshBuckets(array((0 until 8).map(i =>
          (col("id") * (i + 1)).cast("double")): _*), 4, 2, 42L).as("lsh"),
        Decontam.mightContainGram(col("ca"), 5, sketch).as("mc"),
        Decontam.mightContainAny(GF.charShingleHashes(col("ca"), 5), sketch)
          .as("mca"))
    }
  }

  test("pq codecs incl. nullable kernel-returns-null branch: codegen == interpreted") {
    val cb = Pq.Codebooks(2, 4, 4,
      Array.tabulate(2 * 4 * 4)(i => (i % 7).toFloat - 3f))
    val vecs = Seq(
      (1L, Array.tabulate(8)(i => i.toDouble / 3)),
      (2L, Array.tabulate(8)(i => -i.toDouble)),
      (3L, Array.tabulate(5)(i => i.toDouble)) // wrong dim → NULL codes
    ).toDF("id", "v")
    assertParity("pq") {
      vecs.select(Pq.encode(col("v"), cb).as("codes"))
        .select(col("codes"), Pq.decode(col("codes"), cb).as("dec"))
    }
    assertParity("pq-adc") {
      vecs.where(col("id") < 3)
        .select(Pq.encode(col("v"), cb).as("codes"),
          Pq.adcTable(col("v"), cb).as("tbl"))
        .select(Pq.adcDist(col("codes"), col("tbl"), 4).as("d"))
    }
  }

  test("pq_encode_top probe lists: codegen == interpreted, rank-1 == encode") {
    // 1-subspace coarse quantizer (the IVF probe shape); wrong-dim → NULL
    val cb1 = Pq.Codebooks(1, 6, 4,
      Array.tabulate(6 * 4)(i => (i % 5).toFloat - 2f))
    val vecs = Seq(
      (1L, Array.tabulate(4)(i => i.toDouble / 2)),
      (2L, Array.tabulate(4)(i => -i.toDouble)),
      (3L, Array.tabulate(4)(_ => 0.0)),
      (4L, Array.tabulate(7)(i => i.toDouble)) // wrong dim → NULL
    ).toDF("id", "v")
    assertParity("pq-encode-top") {
      vecs.select(Pq.encodeTop(col("v"), cb1, 3).as("probes"))
    }
    // the probe list's rank-1 entry IS the assigned cell (the structural
    // fact the bitext recall anchor leans on)
    val both = vecs.where(col("id") < 4)
      .select(element_at(Pq.encodeTop(col("v"), cb1, 3), 1).as("top"),
        element_at(Pq.encode(col("v"), cb1), 1).as("cell"))
      .collect()
    both.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"rank-1 probe must equal the assigned cell: $r"))
  }

  test("pq_encode_top: a vector with a NULL element gets a NULL probe list") {
    val cb1 = Pq.Codebooks(1, 6, 4,
      Array.tabulate(6 * 4)(i => (i % 5).toFloat - 2f))
    val vecs = Seq(
      (1L, Seq(Some(0.5), None, Some(1.0), Some(0.0))),
      (2L, Seq(Some(0.5), Some(0.0), Some(1.0), Some(0.0)))
    ).toDF("id", "v")
    def probes = vecs.orderBy("id").select(Pq.encodeTop(col("v"), cb1, 3).as("probes"))
    assertParity("pq-encode-top-null-element")(probes)
    val got = probes.collect()
    assert(got(0).isNullAt(0), s"NULL element scored as a value: ${got(0)}")
    assert(!got(1).isNullAt(0))
  }

  test("pq_encode / pq_adc_table / pq_decode: a NULL element or NULL code gives NULL") {
    val cb = Pq.Codebooks(2, 4, 2, Array.tabulate(2 * 4 * 2)(i => (i % 5).toFloat - 2f))
    val vecs = Seq(
      (1L, Seq(Some(0.5), None, Some(1.0), Some(0.0))),
      (2L, Seq(Some(0.5), Some(0.0), Some(1.0), Some(0.0)))
    ).toDF("id", "v")
    val codes = Seq((1L, Seq(Some(1), None)), (2L, Seq(Some(1), Some(2)))).toDF("id", "c")
    def encoded = vecs.orderBy("id")
      .select(Pq.encode(col("v"), cb).as("codes"), Pq.adcTable(col("v"), cb).as("tab"))
    def decoded = codes.orderBy("id").select(Pq.decode(col("c"), cb).as("rec"))
    assertParity("pq-null-element")(encoded)
    assertParity("pq-decode-null-code")(decoded)
    val (e, d) = (encoded.collect(), decoded.collect())
    assert(e(0).isNullAt(0), s"NULL element encoded as a value: ${e(0)}")
    assert(e(0).isNullAt(1), s"NULL element scored as a value: ${e(0)}")
    assert(!e(1).isNullAt(0) && !e(1).isNullAt(1))
    assert(d(0).isNullAt(0), s"NULL code decoded as centroid 0: ${d(0)}")
    assert(!d(1).isNullAt(0))
  }

  test("pq_adc_dist: a NULL code or a NULL table element gives NULL") {
    val full = Seq(0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0).map(Some(_))
    val holed = full.updated(2, None) // a slot that codes (1, 0) never read
    val rows = Seq((1L, Seq(Some(1), None), full), (2L, Seq(Some(1), Some(0)), full),
      (3L, Seq(Some(1), Some(0)), holed)).toDF("id", "c", "t")
    val (gen, interp) = withModes(rows.orderBy("id").select(Pq.adcDist(col("c"), col("t"), 4)))
    // codes (1, 0) over the full table: t(1) + t(4) = 5.0
    for ((mode, got) <- Seq("codegen" -> gen, "interpreted" -> interp))
      assert(got == Seq("[null]", "[5.0]", "[null]"), s"$mode: $got")
  }

  test("bridged kernels fuse into whole-stage codegen stages") {
    // The point of the bridge: a CodegenFallback expression excluded its
    // WHOLE operator from WholeStageCodegen (CollapseCodegenStages
    // .supportCodegen), splitting the featurize stage. A bridged kernel
    // projection must print INSIDE a `*(n)` span. (The bench queries
    // hide these stages under eager localCheckpoints, so the committed
    // plans/r16 artifacts can't show this for the dedup family —
    // text_langid_{before,after}.txt shows it at the query grain.)
    // a parquet round-trip: a local relation would be constant-folded
    // into a LocalTableScan (ConvertToLocalRelation), hiding the stage
    val dir = java.nio.file.Files.createTempDirectory("kcg").toFile
    dir.deleteOnExit()
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val df = spark.read.parquet(s"$dir/docs").select(
      GF.minhashSig(split(col("ca"), " "), 16).as("sig"),
      GF.charShingleHashes(col("ca"), 5).as("sh"),
      GF.langId(col("ca")).as("lang"),
      GF.deflateRatio(col("ca"), 6).as("dr"))
    val plan = df.queryExecution.executedPlan.toString
    val fusedProject = "\\*\\(\\d+\\) Project \\[[^\\]]*minhash_sig".r
    assert(fusedProject.findFirstIn(plan).isDefined,
      s"kernel projection must sit inside a WholeStageCodegen span:\n$plan")
  }

  test("span-dedup anchor kernels (struct arrays): codegen == interpreted") {
    import org.apache.spark.sql.GraftColumn
    assertParity("span") {
      docs.select(
        GraftColumn(graft.functions.WinnowedAnchorsExpr(
          GraftColumn.expr(GF.charShingleHashes(col("ca"), 4)), 4)).as("w"),
        GraftColumn(graft.functions.SelfRepeatSpansExpr(
          GraftColumn.expr(GF.charShingleHashes(col("ca"), 4)), 2)).as("sr"))
    }
  }
}
