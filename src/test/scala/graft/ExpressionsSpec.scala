package graft

import java.security.MessageDigest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.{SimHashAgg, VectorExprs}

/** Native expressions vs independent reference computations. */
class ExpressionsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Pure-Scala simhash replicating q51's definition. */
  private def simhashRef(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = md5hex(t)
      val a = java.lang.Long.parseLong(h.substring(0, 8), 16)
      val b = java.lang.Long.parseLong(h.substring(8, 16), 16)
      (0 until 32).foreach { j =>
        acc(j) += (if (((a >> j) & 1L) == 1L) 1 else -1)
        acc(j + 32) += (if (((b >> j) & 1L) == 1L) 1 else -1)
      }
    }
    (0 until 64).foldLeft(0L)((h, j) => if (acc(j) > 0) h | (1L << j) else h)
  }

  test("SimHashAgg matches an independent scalar implementation") {
    val docs = Tables.documents(spark, SF).limit(20)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val got = Tables.documents(spark, SF).limit(20)
      .select(col("doc_id"), explode(graft.text.Text.tokens(col("text"))).as("tok"))
      .withColumn("hA", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .withColumn("hB", conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long"))
      .groupBy(col("doc_id"))
      .agg(SimHashAgg.simhash(col("hA"), col("hB")).as("sh"))
      .as[(Long, Long)].collect().toMap
    docs.foreach { case (id, text) =>
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
      assert(got(id) === simhashRef(toks), s"doc $id")
    }
  }

  test("SimHashAgg is stable under repartitioning (partial-merge path)") {
    val base = Tables.documents(spark, SF)
      .select(col("doc_id"), explode(graft.text.Text.tokens(col("text"))).as("tok"))
      .withColumn("hA", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .withColumn("hB", conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long"))
    val a = base.groupBy(col("doc_id"))
      .agg(SimHashAgg.simhash(col("hA"), col("hB")).as("sh"))
      .as[(Long, Long)].collect().toMap
    val b = base.repartition(17).groupBy(col("doc_id"))
      .agg(SimHashAgg.simhash(col("hA"), col("hB")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("vecDot: null-safe, length-tolerant, matches declarative fold") {
    val df = Seq(
      (Some(Seq(1.0f, 2.0f, 3.0f)), Some(Seq(4.0f, 5.0f, 6.0f))),
      (None, Some(Seq(1.0f))),
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f))) // mismatched lengths
    ).toDF("a", "b")
    val out = df.select(VectorExprs.vecDot(col("a"), col("b")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out(0) === Some(32.0))
    assert(out(1) === None)
    assert(out(2) === Some(3.0)) // min-length prefix
    val decl = df.limit(1).select(
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (s, x) => s + x))
      .collect()(0).getDouble(0)
    assert(decl === 32.0)
  }

  test("SortedOverlap matches size(array_intersect), codegen'd and interpreted") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // random ascending duplicate-free sets on a small value range (so
    // pairs overlap), plus the edge rows: empty, identical, disjoint,
    // negative and extreme values, and NULL on either side
    val rnd = new scala.util.Random(49)
    def set(): Seq[Long] =
      Seq.fill(rnd.nextInt(30))(rnd.nextInt(60).toLong - 25L).distinct.sorted
    val edge: Seq[(Option[Seq[Long]], Option[Seq[Long]])] = Seq(
      (Some(Nil), Some(Nil)),
      (Some(Nil), Some(Seq(1L, 2L))),
      (Some(Seq(-7L, 0L, 9L)), Some(Seq(-7L, 0L, 9L))),
      (Some(Seq(-3L, -1L)), Some(Seq(2L, 4L))),
      (Some(Seq(Long.MinValue, -1L, Long.MaxValue)), Some(Seq(Long.MinValue, Long.MaxValue))),
      (None, Some(Seq(1L))),
      (Some(Seq(1L)), None),
      (None, None))
    val rows = edge ++ Seq.fill(300)((Some(set()), Some(set())))
    // an RDD source, not a local relation the optimizer would fold
    val df = spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case ((a, b), i) => (i, a, b) }, 3).toDF("i", "a", "b")
    def run(): Seq[(Option[Long], Option[Int])] = {
      val q = df.select(col("i"),
        VectorExprs.sortedOverlap(col("a"), col("b")).as("nat"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      val codegen = q.queryExecution.executedPlan
        .collectFirst { case w: WholeStageCodegenExec => w }.isDefined
      assert(codegen === (spark.conf.get("spark.sql.codegen.wholeStage") == "true"))
      q.collect().sortBy(_.getInt(0)).toSeq.map(r =>
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Int])))
    }
    def check(got: Seq[(Option[Long], Option[Int])]): Unit =
      got.zip(rows).foreach { case ((nat, ref), (a, b)) =>
        if (a.isEmpty || b.isEmpty) assert(nat === None, s"$a $b")
        else assert(nat === ref.map(_.toLong), s"$a $b")
      }
    val compiled = run()
    check(compiled)
    assert(compiled(2)._1 === Some(3L) && compiled(3)._1 === Some(0L))
    assert(compiled(4)._1 === Some(2L))
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = run()
      check(interpreted)
      assert(interpreted === compiled)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("FreqItemsAgg: MG guarantee holds on a skewed stream, any partitioning") {
    import graft.expressions.FreqItemsAgg
    val k = 8
    // Zipf-ish: item i appears ~n/i times; heavy head + long tail
    val stream = (1 to 200).flatMap(i => Seq.fill(1000 / i)(s"item$i"))
    val n = stream.size
    val exact = stream.groupBy(identity).map { case (s, v) => s -> v.size.toLong }
    Seq(1, 3, 17).foreach { parts =>
      val sk = stream.toDF("t").repartition(parts)
        .agg(FreqItemsAgg.freqItems(col("t"), k).as("m"))
        .collect()(0).getMap[String, Long](0)
      assert(sk.size <= k)
      // estimates are lower bounds, undercounting by at most n/(k+1)
      sk.foreach { case (item, est) =>
        assert(est <= exact(item), s"$item overcounted at parts=$parts")
        assert(exact(item) - est <= n / (k + 1) + 1, s"$item at parts=$parts")
      }
      // completeness: every item heavier than n/(k+1) must be present
      exact.foreach { case (item, c) =>
        if (c > n / (k + 1)) assert(sk.contains(item), s"$item lost at parts=$parts")
      }
    }
  }

  test("q101 equals the exact heavy-hitter set (sketch is only a candidate pass)") {
    val tok = Tables.documents(spark, SF)
      .select(explode(graft.text.Text.tokens(col("text"))).as("token"))
    val n = tok.count()
    val expect = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * operators.TextOps.HeavyDen >= n)
      .orderBy(col("token"))
      .as[(String, Long)].collect().toList
    val got = operators.TextOps.q101(spark, SF)
      .select(col("token"), col("cnt")).as[(String, Long)].collect().toList
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("q102 equals the exact per-group heavy-hitter set") {
    val tok = Tables.documents(spark, SF)
      .select(col("lang"), explode(graft.text.Text.tokens(col("text"))).as("token"))
    val n = tok.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val expect = tok.join(n, "lang")
      .groupBy(col("lang"), col("token"), col("n_lang"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * operators.TextOps.HeavyDen >= col("n_lang"))
      .select(col("lang"), col("token"), col("cnt"))
      .orderBy(col("lang"), col("token"))
      .as[(String, String, Long)].collect().toList
    val got = operators.TextOps.q102(spark, SF)
      .select(col("lang"), col("token"), col("cnt"))
      .as[(String, String, Long)].collect().toList
    assert(got === expect)
    assert(got.map(_._1).distinct.size > 1, "needs multiple language groups")
  }

  test("ScriptCountsOf matches the seven regexp_count scans") {
    // r17: scriptOf's fused codepoint walk vs the regex classes it
    // replaced — on a fixture exercising every class, digits/punct
    // (Common — uncounted), a supplementary-plane Han codepoint
    // (U+20000: one count, not one per surrogate), a combining mark
    // (Inherited — uncounted), and nulls/empties
    val fixture = Seq(
      "abc XYZ 123 àé Жж Ωα 中文" +
        " اب אב देव 𠀀 é ,.;",
      "", "plain ascii only", "शुद्ध Latin",
      null)
    val df = fixture.toDF("utext")
    val scripts = graft.expressions.ScriptCountsOf.Scripts
    val viaNative = df.select(
      graft.expressions.ScriptCountsOf.scriptCounts(col("utext")).as("sc"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0))
    // null text: the native walk yields a null ARRAY, the regex form an
    // array of nulls — equivalent at the consumer (element_at(null, i)
    // = null = regexp_count(null)), so normalize the reference shape
    val viaRegex = df.select(when(col("utext").isNull, lit(null))
        .otherwise(array(scripts.map(n =>
          regexp_count(col("utext"), lit(s"\\p{Is${n.capitalize}}"))
            .cast("long")): _*)).as("sc"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0))
    assert(viaNative.toSeq === viaRegex.toSeq)
    // the mixed row really exercised multiple classes
    assert(viaNative(0).count(_ > 0) === 7)
  }

  test("LongVecDotDecimal matches the declarative Decimal fold") {
    // r17: q149/q153's native exact dot vs the aggregate(zip_with(…))
    // form it replaced — incl. values whose products overflow int64
    // (the BigInteger escalation path) and negative components
    val rows = Seq(
      (Seq(1L, -2L, 3L), Seq(4L, 5L, -6L)),
      (Seq(3037000499L, 3037000499L), Seq(3037000499L, 3037000499L)),
      (Seq(Long.MaxValue / 2, 2L), Seq(2L, Long.MaxValue / 2)),
      (Seq(0L, 0L), Seq(0L, 0L)))
    val df = rows.toDF("a", "b")
    val native = df.select(
      graft.expressions.VectorExprs.vecDotDec(col("a"), col("b")).as("d"))
      .collect().map(_.getDecimal(0))
    val fold = df.select(expr(
      "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DECIMAL(38,0)) * y), " +
        "CAST(0 AS DECIMAL(38,0)), (acc, t) -> CAST(acc + t AS DECIMAL(38,0)))")
      .as("d")).collect().map(_.getDecimal(0))
    assert(native.map(_.toBigInteger).toSeq === fold.map(_.toBigInteger).toSeq)
  }

  test("LshBucketOf matches the declarative per-plane sign fold") {
    // r18: the native LSH bucket vs the aggregate(zip_with(…)) fold it
    // replaced — real embeddings for every q78 table offset, plus edge
    // rows: empty array (all-zero sums ⇒ all bits set), negative/NaN
    // components, and a NULL embedding (fall-through bucket 0)
    val real = Tables.embeddings(spark, SF).limit(50).select(col("embedding"))
    (0 until 4).foreach { t =>
      val both = real.select(
        operators.SimOps.bucketOf(col("embedding"), t).as("nat"),
        operators.SimOps.bucketOfDeclarative(col("embedding"), t).as("dec"))
        .collect()
      both.foreach(r => assert(r.getInt(0) === r.getInt(1), s"table $t"))
    }
    val edge = Seq(
      Some(Seq(-1.5f, 2.25f, -3.0f, 0.0f)),
      Some(Seq.empty[Float]),
      Some(Seq(Float.NaN, 1.0f)),
      None).toDF("embedding")
    val got = edge.select(
      operators.SimOps.bucketOf(col("embedding")).as("nat"),
      operators.SimOps.bucketOfDeclarative(col("embedding")).as("dec"))
      .collect()
    got.foreach(r => assert(r.getInt(0) === r.getInt(1)))
    // empty: sequence(0,-1) = [0,-1] null-pads zip_with ⇒ NULL fold ⇒ 0
    assert(got(1).getInt(0) === 0)
    // NaN sums: Spark's NaN-greatest comparison makes NaN >= 0 TRUE
    assert(got(2).getInt(0) === 255)
    assert(got(3).getInt(0) === 0)   // null embedding: when() fall-through
  }

  test("PqCodesOf matches the declarative per-subspace argmin encode") {
    // r18: the native PQ encode vs the filter/transform/array_min HOF
    // chain it replaced — real corpus codebook over real embeddings
    val e = Tables.embeddings(spark, SF)
    val cb = operators.SimOps.pqCodebook(e)
    val nat = operators.SimOps.pqEncode(e.limit(60), cb)
      .select(col("vec_id"), col("codes"))
    val dec = operators.SimOps.pqEncodeDeclarative(e.limit(60), cb)
      .select(col("vec_id"), col("codes").as("dcodes"))
    val j = nat.join(dec, "vec_id").collect()
    assert(j.length === 60)
    j.foreach(r => assert(r.getSeq[Int](1) === r.getSeq[Int](2),
      s"vec ${r.get(0)}"))
    // tie rule: duplicate codewords must pick the LOWER dense code id
    import spark.implicits._
    val cents = Seq(
      (1L, Seq.fill(8)(0.5f)), (2L, Seq.fill(8)(0.5f)),
      (3L, (1 to 8).map(i => -0.25f * i))).toDF("cell_id", "centroid")
    val cbT = operators.SimOps.pqCodebookFrom(cents)
    val v = Seq((9L, (1 to 8).map(_ => 0.4f))).toDF("vec_id", "embedding")
    val natT = operators.SimOps.pqEncode(v, cbT).select(col("codes")).head()
    val decT = operators.SimOps.pqEncodeDeclarative(v, cbT)
      .select(col("codes")).head()
    assert(natT.getSeq[Int](0) === decT.getSeq[Int](0))
    assert(natT.getSeq[Int](0).forall(_ === 0)) // ties to the lower cidx
  }

  test("CellArgMin matches the declarative rounded-cosine argmax assignment") {
    // r18: the native cell assignment vs the array_min(transform(…))
    // chain it replaced — real per-label centroids over real embeddings
    val e = Tables.embeddings(spark, SF)
    val cellsRow = operators.SimOps.cellsAsRow(operators.SimOps.centroidCells(e))
    val nat = operators.SimOps.assignToCells(
      operators.SimOps.withNorm(e.limit(80)), cellsRow)
      .select(col("vec_id"), col("cell_id"))
    val dec = operators.SimOps.assignToCellsDeclarative(
      operators.SimOps.withNorm(e.limit(80)), cellsRow)
      .select(col("vec_id"), col("cell_id").as("dcell"))
    val j = nat.join(dec, "vec_id").collect()
    assert(j.length === 80)
    j.foreach(r => assert(r.get(1) === r.get(2), s"vec ${r.get(0)}"))
    // tie rule (duplicate centroids) and the empty-cells null
    import spark.implicits._
    val dup = Seq((2L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.5f))).toDF("cell_id", "centroid")
    val vecs = operators.SimOps.withNorm(
      Seq((10L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding"))
    val row = operators.SimOps.cellsAsRow(dup)
    val gotT = operators.SimOps.assignToCells(vecs, row)
      .select(col("cell_id")).head().getLong(0)
    val decT = operators.SimOps.assignToCellsDeclarative(vecs, row)
      .select(col("cell_id")).head().getLong(0)
    assert(gotT === decT)
    assert(gotT === 1L) // tie between cells 1 and 2 → lower id
    val empty = operators.SimOps.cellsAsRow(
      dup.filter(col("cell_id") > 100))
    val gotE = operators.SimOps.assignToCells(vecs, empty)
      .select(col("cell_id")).head()
    val decE = operators.SimOps.assignToCellsDeclarative(vecs, empty)
      .select(col("cell_id")).head()
    assert(gotE.isNullAt(0) === decE.isNullAt(0))
    assert(gotE.isNullAt(0))
    // a NON-empty array whose slots are all null scans nothing either:
    // null, not the MinValue sentinel, interpreted and generated alike
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val cellT = StructType(Seq(StructField("cell_id", LongType),
      StructField("centroid", ArrayType(FloatType)), StructField("cn", DoubleType)))
    val allNull = graft.expressions.CellArgMin(
      Literal(new GenericArrayData(Array[Any](0.5f, 0.5f)), ArrayType(FloatType)),
      Literal(0.5),
      Literal(new GenericArrayData(Array[Any](null, null)), ArrayType(cellT)))
    assert(allNull.eval(InternalRow.empty) == null)
    assert(GenerateUnsafeProjection.generate(Seq(allNull))
      .apply(InternalRow.empty).isNullAt(0))
  }

  test("LongVecDotDecimal degrades to null past 38 digits on the codegen path") {
    // r17 ADVICE (medium): doGenCode must reset isNull after the call —
    // two Long.MaxValue² products sum to ~1.7e38 (39 digits) ⇒ null
    // under the CheckOverflow convention, and predicates over the dot
    // must see the null instead of NPEing on a null Decimal
    val df = Seq((Seq(Long.MaxValue, Long.MaxValue),
      Seq(Long.MaxValue, Long.MaxValue))).toDF("a", "b")
    val d = graft.expressions.VectorExprs.vecDotDec(col("a"), col("b"))
    val out = df.select(d.as("d")).collect()
    assert(out(0).isNullAt(0))
    // null-propagating predicate: no row survives, no NPE
    assert(df.filter(d > 0).count() === 0L)
    assert(df.select((d * d).as("sq")).collect()(0).isNullAt(0))
  }

  test("ScriptCountsOf rejects overlong/surrogate UTF-8 like the regex path") {
    // r17 ADVICE (low): 0xC1 0xA1 is an overlong encoding of 'a' — the
    // regex path sees U+FFFD (uncounted); the walk must not count Latin.
    // Same for a 3-byte surrogate encoding (0xED 0xA0 0x80 → U+D800).
    import org.apache.spark.unsafe.types.UTF8String
    def counts(bytes: Array[Byte]): Seq[Long] = {
      val arr = graft.expressions.ScriptCountsOf.count(UTF8String.fromBytes(bytes))
      (0 until arr.numElements()).map(arr.getLong)
    }
    assert(counts(Array(0xC1.toByte, 0xA1.toByte)).forall(_ == 0L))
    assert(counts(Array(0xED.toByte, 0xA0.toByte, 0x80.toByte)).forall(_ == 0L))
    // overlong 3-byte 'a' (0xE0 0x81 0xA1) and overlong 4-byte (0xF0 0x80 0x81 0xA1)
    assert(counts(Array(0xE0.toByte, 0x81.toByte, 0xA1.toByte)).forall(_ == 0L))
    assert(counts(Array(0xF0.toByte, 0x80.toByte, 0x81.toByte, 0xA1.toByte)).forall(_ == 0L))
    // surrounding valid text still counts exactly
    val mixed = "a".getBytes("UTF-8") ++ Array(0xC1.toByte, 0xA1.toByte) ++
      "b".getBytes("UTF-8")
    val c = counts(mixed)
    assert(c(6) === 2L && c.take(6).forall(_ == 0L)) // latin slot only
    // boundary legals are still counted once: U+0080-adjacent 2-byte
    // (é = 0xC3 0xA9) and the minimal 4-byte Han U+20000
    assert(counts("é".getBytes("UTF-8"))(6) === 1L)
    assert(counts("𠀀".getBytes("UTF-8"))(4) === 1L) // han slot
  }

  test("text primitives are null-safe") {
    val df = Seq[Option[String]](None, Some(""), Some("one two three")).toDF("text")
    val toks = df.select(graft.text.Text.tokens(col("text")).as("t"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
    assert(toks(0) === null)
    assert(toks(1) === Seq())
    assert(toks(2) === Seq("one", "two", "three"))
    val sh = df.select(graft.text.Text.shingles(
      graft.text.Text.tokens(col("text")), 2).as("s"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
    assert(sh(1) === Seq())
    assert(sh(2) === Seq("one two", "two three"))
  }
}
