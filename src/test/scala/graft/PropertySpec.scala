package graft

import graft.functions.{TokenJaccardUtil, VectorKernelUtil}
import graft.sources.MarkerCodec
import graft.sources.MarkerCodec.{Bound, Entry, Marker}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** §5.3 property-based layer: algebraic laws of the custom kernels
  * over generated inputs. ScalaCheck generators are driven with fixed
  * seeds (the scalatest-scalacheck bridge is not in the offline
  * cache, so sampling is done directly — deterministic by design).
  */
class PropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    (0 until n * 3).iterator
      .flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
      .take(n).toSeq

  private val word = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val text = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
  private def u(s: String) = UTF8String.fromString(s)

  test("token_jaccard: symmetric, bounded, 1 on equal non-empty, 0 vs empty") {
    samples(Gen.zip(text, text)).foreach { case (a, b) =>
      val j1 = TokenJaccardUtil.compute(u(a), u(b))
      val j2 = TokenJaccardUtil.compute(u(b), u(a))
      assert(j1 === j2, s"asymmetric for '$a' / '$b'")
      assert(j1 >= 0.0 && j1 <= 1.0)
    }
    samples(text).filter(_.trim.nonEmpty).foreach { a =>
      assert(TokenJaccardUtil.compute(u(a), u(a)) === 1.0)
      assert(TokenJaccardUtil.compute(u(a), u("")) === 0.0)
    }
  }

  test("sorted_jaccard on sorted distinct arrays equals token_jaccard on joined text") {
    samples(Gen.zip(Gen.listOf(word), Gen.listOf(word))).foreach { case (as, bs) =>
      val sa = as.distinct.sorted
      val sb = bs.distinct.sorted
      val viaArrays = VectorKernelUtil.sortedJaccard(
        ArrayData.toArrayData(sa.map(u).toArray),
        ArrayData.toArrayData(sb.map(u).toArray))
      val viaText = TokenJaccardUtil.compute(u(sa.mkString(" ")), u(sb.mkString(" ")))
      assert(viaArrays === viaText, s"$sa vs $sb")
    }
  }

  test("sorted_jaccard_min: exact j above tau, abandons only provable misses") {
    for (tau <- Seq(0.3, 0.5, 0.95)) {
      samples(Gen.zip(Gen.listOf(word), Gen.listOf(word))).foreach { case (as, bs) =>
        val sa = as.distinct.sorted; val sb = bs.distinct.sorted
        val aa = ArrayData.toArrayData(sa.map(u).toArray)
        val bb = ArrayData.toArrayData(sb.map(u).toArray)
        val exact = VectorKernelUtil.sortedJaccard(aa, bb)
        val fast = VectorKernelUtil.sortedJaccardMin(aa, bb, tau)
        if (exact >= tau)
          assert(fast === exact, s"lost a true pair at tau=$tau: $sa vs $sb")
        else
          assert(fast === exact || fast === -1.0, s"wrong abandon at tau=$tau: $sa vs $sb")
      }
    }
  }

  test("vec_dot: commutative; zero annihilates; Cauchy-Schwarz holds") {
    val vec = Gen.listOfN(16, Gen.chooseNum(-100.0, 100.0))
    samples(Gen.zip(vec, vec)).foreach { case (a, b) =>
      val aa = ArrayData.toArrayData(a.toArray)
      val bb = ArrayData.toArrayData(b.toArray)
      assert(VectorKernelUtil.dot(aa, bb) === VectorKernelUtil.dot(bb, aa))
      val zero = ArrayData.toArrayData(Array.fill(16)(0.0))
      assert(VectorKernelUtil.dot(aa, zero) === 0.0)
      assert(math.abs(VectorKernelUtil.dot(aa, bb)) <=
        math.sqrt(VectorKernelUtil.dot(aa, aa)) * math.sqrt(VectorKernelUtil.dot(bb, bb)) + 1e-9)
    }
  }

  // marker text: unicode (BMP and surrogate pairs) mixed with the
  // delimiters the pre-codec string format had to escape
  private val markerText: Gen[String] = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n,
    Gen.frequency(
      4 -> Gen.alphaNumChar.map(_.toString),
      3 -> Gen.oneOf("%", ",", ":", "=", "\"", " ", "\\", "/", "{", "}", "-", "?"),
      2 -> Gen.choose('\u00a1', '\u2fff').map(_.toString),
      1 -> Gen.oneOf("\ud83d\ude00", "\ud834\udd1e"))).map(_.mkString))
  private val longText = Gen.frequency(
    3 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L),
    5 -> Gen.choose(Long.MinValue, Long.MaxValue)).map(_.toString)
  private val doubleText = Gen.frequency(
    3 -> Gen.oneOf(Double.NegativeInfinity, Double.PositiveInfinity, -0.0,
      Double.MinValue, Double.MaxValue, Double.MinPositiveValue),
    5 -> Gen.choose(-1e300, 1e300)).map(_.toString)
  private val bound: Gen[Bound] = Gen.oneOf(
    Gen.zip(longText, longText).map { case (a, b) => Bound("l", a, b) },
    Gen.zip(doubleText, doubleText).map { case (a, b) => Bound("d", a, b) },
    Gen.zip(markerText, markerText).map { case (a, b) => Bound("s", a, b) })
  private val entry: Gen[Entry] = for {
    dir <- markerText
    rows <- Gen.choose(0L, Long.MaxValue)
    stats <- Gen.choose(0, 5).flatMap(Gen.mapOfN(_, Gen.zip(markerText, bound)))
    cols <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, markerText))
  } yield Entry(dir, rows, stats, cols)
  private val marker: Gen[Marker] = for {
    parent <- Gen.choose(0L, Long.MaxValue)
    lb <- Gen.choose(-1L, Long.MaxValue)
    batch <- Gen.choose(-1L, Long.MaxValue)
    entries <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, entry))
  } yield Marker(MarkerCodec.FormatVersion, parent, lb, batch, entries)

  test("marker codec: decode(encode(m)) == m for arbitrary markers") {
    samples(marker).foreach { m =>
      assert(MarkerCodec.decode(MarkerCodec.encode(m)) === m, s"round trip of $m")
    }
  }

  test("marker codec refuses a NaN bound on encode and on decode") {
    val ok = Marker(MarkerCodec.FormatVersion, 0L, -1L, -1L,
      Seq(Entry("d", 1L, Map("x" -> Bound("d", "1.5", "2.5")), Seq("x"))))
    val nan = ok.copy(entries = Seq(ok.entries.head.copy(
      stats = Map("x" -> Bound("d", "NaN", "2.5")))))
    intercept[IllegalArgumentException] { MarkerCodec.encode(nan) }
    val okTxt = new String(MarkerCodec.encode(ok), "UTF-8")
    val nanTxt = okTxt.replace("\"1.5\"", "\"NaN\"")
    assert(nanTxt !== okTxt, s"the bound rewrite must hit: $okTxt")
    intercept[IllegalArgumentException] { MarkerCodec.decode(nanTxt.getBytes("UTF-8")) }
  }

  test("byte-range line reader: any split reassembles the exact line sequence") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("line", StringType)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_split_prop")
    def rangeLines(file: String, start: Long, len: Long): Seq[String] = {
      val r = new graft.sources.RegexPartitionReader(
        graft.sources.RegexFilePartition(file, start, len),
        schema, schema, "^(.*)$", Array.empty, Map.empty)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      try while (r.next()) out += r.get().getUTF8String(0).toString
      finally r.close()
      out.toSeq
    }
    // random lines (empty lines included), random separator (LF or
    // CRLF), randomly missing final newline — the shapes real log
    // files take; expected lines derived from the BYTES, not the
    // generator, so the oracle is reader-independent
    val lineGen = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.const('|'))).map(_.mkString))
    val fileGen = for {
      lines <- Gen.choose(0, 20).flatMap(n => Gen.listOfN(n, lineGen))
      sep <- Gen.oneOf("\n", "\r\n")
      trailing <- Gen.oneOf(true, false)
    } yield lines.mkString(sep) + (if (lines.nonEmpty && trailing) sep else "")
    samples(fileGen, n = 120).zipWithIndex.foreach { case (content, i) =>
      val f = tmp.resolve(s"f$i.txt")
      java.nio.file.Files.writeString(f, content)
      val bytes = java.nio.file.Files.size(f)
      val expected =
        if (content.isEmpty) Seq.empty[String]
        else content.split("\n", -1).toSeq
          .dropRight(if (content.endsWith("\n")) 1 else 0)
          .map(_.stripSuffix("\r"))
      for (split <- Seq(1L, 3L, 7L, bytes + 2)) {
        val got = (0L until math.max(bytes, 1L) by split).flatMap(start =>
          rangeLines(f.toString, start, math.min(split, bytes - start)))
        assert(got === expected,
          s"split=$split bytes=$bytes content=${content.replace("\r", "<CR>").replace("\n", "<LF>")}")
      }
    }
  }
}
