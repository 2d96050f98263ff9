package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 optimization contract: every hand-written kernel is BIT-IDENTICAL
  * to the portable `functions._` expression chain it replaced. Each test
  * evaluates kernel and portable form side by side over a deterministic
  * pseudo-random corpus (plus the edge cases: empty text, single word,
  * sub-k word counts, all-duplicate docs) and asserts row-for-row equality
  * — the hash-gate-level guarantee the DuckDB oracles rely on.
  */
class KernelEquivalenceSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  /** Deterministic word soup: doc i draws `len(i)` words from a small
    * vocabulary via an LCG, so duplicate grams occur across and inside
    * docs. Includes empty and short docs.
    */
  private def corpus: DataFrame = {
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "x", "longerword")
    val rows = (0 until 200).map { i =>
      val n = i % 13 // 0-word through 12-word docs
      var s = i * 2654435761L + 1
      val words = (0 until n).map { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        vocab(((s >>> 33) % vocab.length).toInt)
      }
      (i.toLong, words.mkString(" "))
    } :+ ((200L, "  ")) :+ ((201L, "dup dup dup dup dup dup dup dup"))
    rows.toDF("doc_id", "text")
  }

  private def wordsCol(text: Column): Column =
    when(length(trim(text)) === 0, typedLit(Seq.empty[String]))
      .otherwise(split(trim(text), "[ \t\n\f\r]+"))

  private def gramsColPortable(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(w, i + lit(k))): _*)))
      .otherwise(typedLit(Seq.empty[String]))

  private def kmvHashPortable(value: Column): Column =
    conv(substring(md5(value.cast("binary")), 1, 15), 16, 10).cast("long")

  private def assertSame(df: DataFrame): Unit = {
    val bad = df.filter(!(col("a") <=> col("b")))
    assert(bad.isEmpty, bad.limit(5).collect().mkString("\n"))
  }

  test("GramStrings == gramsCol portable form (k = 2, 3)") {
    for (k <- Seq(2, 3)) {
      assertSame(corpus.select(
        TextKernels.gramStrings(wordsCol(col("text")), k).as("a"),
        gramsColPortable(wordsCol(col("text")), k).as("b")))
    }
  }

  test("GramHash60 == transform(gramsCol, kmvHash) portable form (k = 2, 3)") {
    for (k <- Seq(2, 3)) {
      assertSame(corpus.select(
        TextKernels.gramHashes(wordsCol(col("text")), k).as("a"),
        transform(gramsColPortable(wordsCol(col("text")), k),
          g => kmvHashPortable(g)).as("b")))
    }
  }

  test("WinnowFp == slice/array_min/filter portable selection (w = 2, 4, 7)") {
    for (w <- Seq(2, 4, 7)) {
      val staged = corpus.select(col("doc_id"),
        TextKernels.gramHashes(wordsCol(col("text")), 3).as("hs"))
      val n = size(col("hs"))
      val starts = when(n === 0, typedLit(Seq.empty[Int]))
        .otherwise(sequence(lit(1), greatest(n - lit(w - 1), lit(1))))
      val sel = array_distinct(transform(starts, i => {
        val sl = slice(col("hs"), i, lit(w))
        val mn = array_min(sl)
        (i - 1) + array_min(filter(sequence(lit(1), size(sl)),
          kk => element_at(sl, kk) === mn))
      }))
      assertSame(staged.select(
        TextKernels.winnowFingerprints(col("hs"), w).as("a"),
        transform(sel, p =>
          struct(p.cast("long").as("pos"),
            element_at(col("hs"), p).as("fp"))).as("b")))
    }
  }

  test("RemoveCovered == filter(!array_contains) portable form") {
    // covered sets of varying density, incl. empty, full, out-of-range
    val dense = corpus.select(col("doc_id"), wordsCol(col("text")).as("w"))
      .withColumn("cov",
        filter(transform(sequence(lit(1L), lit(15L)),
          j => when(pmod(col("doc_id") + j, lit(3)) === 0, j)), x => x.isNotNull))
    // plus null covered sets, and covered sets holding a null
    val nulls = dense.filter(pmod(col("doc_id"), lit(10)) === 0)
    val staged = dense
      .unionByName(nulls.withColumn("cov", lit(null).cast("array<bigint>")))
      .unionByName(nulls.withColumn("cov", array(lit(2L), lit(null).cast("bigint"))))
    assertSame(staged.select(
      TextKernels.removeCovered(col("w"), col("cov")).as("a"),
      filter(col("w"), (_, i) =>
        !array_contains(col("cov"), (i + 1).cast("long"))).as("b")))
  }

  test("RemoveCovered handles a long fully-covered doc in linear time") {
    // the round-5 verdict's scale case: every position covered — output
    // empty, and the kernel's merge pointer touches each cov entry once
    val nWords = 30000
    val doc = Seq((1L, (1 to nWords).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val covered = doc.select(col("doc_id"), wordsCol(col("text")).as("w"))
      .withColumn("cov", sequence(lit(1L), lit(nWords.toLong)))
    val out = covered.select(
      TextKernels.removeCovered(col("w"), col("cov")).as("kept")).head()
    assert(out.getSeq[String](0).isEmpty)
  }

  test("MinHashPick == (hash asc, dst asc) window draw over the adjacency") {
    // random adjacency lists (sorted, distinct) + the prefix the walk hop
    // uses; compare against the explicit per-element portable argmin
    val adj = (0 until 50).map { i =>
      val n = 1 + i % 9
      (s"Q$i#0", (0 until n).map(j => s"Q${(i * 7 + j * 13) % 40}").distinct.sorted)
    }.toDF("walk_id", "adj")
    val prefix = concat(col("walk_id"), lit("_3_"))
    val hashes = transform(col("adj"),
      d => kmvHashPortable(concat(prefix, d)))
    val portable = element_at(col("adj"),
      array_position(hashes, array_min(hashes)).cast("int"))
    assertSame(adj.select(
      TextKernels.minHashPick(col("adj"), prefix).as("a"),
      portable.as("b")))
  }

  test("SignBucket == per-bit when(fddot >= 0) literal-chain form") {
    val dim = 8; val bits = 6
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until dim).map(j =>
        (((i * 31 + j * 17) % 29 - 14).toFloat / 7f)))
    }.toDF("vec_id", "v").withColumn("v", col("v").cast("array<float>"))
    for (seed <- Seq(42L, 7L, 91L)) {
      val planes: Array[Array[Double]] = Array.tabulate(bits, dim)(
        (b, i) => graft.operators.Similarity.planeCoord(seed, b, i))
      val portable = (0 until bits).map { b =>
        val proj = VectorOps.fddot(col("v"), array(planes(b).map(lit): _*))
        when(proj >= 0, lit(1 << b)).otherwise(lit(0))
      }.reduce(_ + _)
      assertSame(vecs.select(
        VectorOps.signBucket(col("v"), planes).as("a"), portable.as("b")))
    }
  }

  test("PqCodes / PqLut / L2Dists / SubCentroid == literal-tree forms") {
    val dim = 16; val m = 4; val dsub = 4; val ksub = 3
    val vecs = (0 until 40).map { i =>
      (i.toLong, (0 until dim).map(j => ((i * 31 + j * 17) % 29 - 14).toLong))
    }.toDF("vec_id", "q")
    val cb: Array[Array[Array[Long]]] = Array.tabulate(m, ksub) { (s, c) =>
      Array.tabulate(dsub)(j => ((s * 5 + c * 11 + j * 3) % 23 - 11).toLong)
    }
    def l2sqLit(sv: Column, cent: Array[Long]): Column =
      aggregate(zip_with(sv, array(cent.map(lit): _*), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    def subCol(c: Column, s: Int) = slice(c, s * dsub + 1, dsub)
    val codesPortable = array((0 until m).map { s =>
      val dists = array((0 until ksub).map(c => l2sqLit(subCol(col("q"), s), cb(s)(c))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
    val lutPortable = array((0 until m).map { s =>
      array((0 until ksub).map(c => l2sqLit(subCol(col("q"), s), cb(s)(c))): _*)
    }: _*)
    assertSame(vecs.select(PqKernels.pqCodes(col("q"), cb, dsub).as("a"),
      codesPortable.as("b")))
    assertSame(vecs.select(PqKernels.pqLut(col("q"), cb, dsub).as("a"),
      lutPortable.as("b")))

    val cents: Array[Array[Long]] = Array.tabulate(5) { c =>
      Array.tabulate(dim)(j => ((c * 13 + j * 7) % 19 - 9).toLong)
    }
    val distsPortable = array(cents.map(cv => l2sqLit(col("q"), cv)): _*)
    assertSame(vecs.select(PqKernels.l2Dists(col("q"), cents).as("a"),
      distsPortable.as("b")))

    val centsLit = array(cents.map(cv => array(cv.map(lit): _*)): _*)
    val cell = (pmod(col("vec_id"), lit(5))).cast("int")
    val residPortable = zip_with(col("q"), element_at(centsLit, cell + 1), (x, y) => x - y)
    assertSame(vecs.select(PqKernels.subCentroid(col("q"), cell, cents).as("a"),
      residPortable.as("b")))
  }

  test("Embedder.encode == its per-call String.split form") {
    // `encode` in its split form: tokens are the non-empty pieces of a
    // `\W+` split of the lowercased text, each hashed with String.hashCode
    def mix(h0: Int): Int = {
      var h = h0
      h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
      h
    }
    def encodeSplit(text: String): Array[Float] = {
      val dim = graft.link.Embedder.dim
      val v = new Array[Float](dim)
      val tokens = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
      var i = 0
      while (i < tokens.length) {
        val h = mix(tokens(i).hashCode)
        v(math.abs(h % dim)) += (if (h >= 0) 1f else -1f)
        if (i + 1 < tokens.length) {
          val hb = mix(tokens(i).hashCode * 31 + tokens(i + 1).hashCode)
          v(math.abs(hb % dim)) += (if (hb >= 0) 0.5f else -0.5f)
        }
        i += 1
      }
      var norm = 0.0
      v.foreach(x => norm += x * x)
      val n = math.sqrt(norm)
      if (n > 0) { var j = 0; while (j < dim) { v(j) = (v(j) / n).toFloat; j += 1 } }
      v
    }
    // İ lowercases to two chars (i + combining dot), the Kelvin sign to k
    val chars = "abcXYZ09 _-.,'\t\néÉßü\u0130\u212A日本語\u00A0"
    val rnd = new scala.util.Random(29)
    val texts = Seq("", " ", "..", "\u0130stanbul \u0130I", "\u212Aelvin KELVIN kelvin", "Straße STRASSE",
      "naïve café, ÉCOLE", "日本語 テキスト", "under_score  tab\tnew\nline",
      // all separators; runs of '_' and digits; separators at both ends;
      // a text that grows when lowercased (each İ becomes two chars)
      " .,-\t\n\u00A0é日", "___ 0099 _9_ 1_a 42", "  ..edge words..  ", "-x-", "x", "_",
      "\u0130\u0130\u0130", "A\u0130B \u0130x\u0130 \u0130") ++
      (0 until 500).map(_ => Seq.fill(rnd.nextInt(40))(chars.charAt(rnd.nextInt(chars.length))).mkString)
    texts.foreach { t =>
      assert(graft.link.Embedder.encode(t).sameElements(encodeSplit(t)), s"text ${t.toSeq}")
    }
  }
}
