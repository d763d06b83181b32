package graft

import graft.functions.Crypto
import org.scalatest.funsuite.AnyFunSuite

/** ExactRatio half-up stays exact past 2^53 (ADVICE r2: the old
  * double-based floor silently mis-rounded there). Reference model is
  * BigInt floor division. */
class ExactRatioSpec extends SparkSpec {
  private def fdiv(a: BigInt, b: BigInt): BigInt = {
    val q = a / b
    if ((a % b) != 0 && ((a < 0) != (b < 0))) q - 1 else q
  }
  private def expected(num: Long, den: Long, scale: Long): Long =
    if (den == 0) 0L
    else fdiv(BigInt(num) * 2 * scale + den, BigInt(den) * 2).toLong

  /** Domain mirrors real usage: quotient = ratio·scale fits a long, but the
    * intermediate num·2·scale exceeds 2^53 (up to ~2·10^20). */
  private def cases(scale: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(7 + scale)
    Seq.fill(200) {
      val den = 1L + math.abs(rnd.nextLong() % 1000000000L)
      val k = rnd.nextLong() % 100000L
      (den * k + rnd.nextLong() % (den + 1), den)
    } ++ Seq((1L << 55, 3000L), (-(1L << 55) - 1, (1L << 20) + 7), (5L, 0L), (-7L, 2L))
  }

  test("caller-side int64 overflow fails loudly, never silently wraps") {
    // the helper's widening covers only its internal ·2·scale blowup; a
    // caller num expression that overflows int64 must raise (ANSI), not
    // feed a wrapped value into the 'exact' path
    val df = spark.range(1).select(
      (org.apache.spark.sql.functions.lit(Long.MaxValue) +
        org.apache.spark.sql.functions.col("id") + 1L).as("num"))
    assertThrows[Exception] {
      df.select(graft.functions.ExactRatio.scaled(
        org.apache.spark.sql.functions.col("num"),
        org.apache.spark.sql.functions.lit(3L), 1000L)).collect()
    }
  }

  test("scaledLong (the RDD loops' row-local mirror) matches the Column " +
      "form and the BigInt model on the same domain") {
    // law for the r14 graph-family RDD rounds: one definition, two
    // evaluation paths — any divergence would silently skew pagerank milli
    // ranks, so both are pinned to the BigInt half-up model, including the
    // den==0 rule and negative numerators
    Seq(1L, 1000L, 1000000L).foreach { scale =>
      cases(scale).foreach { case (num, den) =>
        assert(graft.functions.ExactRatio.scaledLong(num, den, scale) ===
          expected(num, den, scale), s"num=$num den=$den scale=$scale")
      }
    }
  }

  test("scaled matches BigInt half-up for values far beyond 2^53") {
    import org.apache.spark.sql.functions.col
    val ss = spark
    import ss.implicits._
    Seq(1000L, 1000000L).foreach { scale =>
      val df = cases(scale).toDF("num", "den")
      val got = df.select(col("num"), col("den"),
          graft.functions.ExactRatio.scaled(col("num"), col("den"), scale).as("got"))
        .collect()
      got.foreach { r =>
        assert(r.getLong(2) === expected(r.getLong(0), r.getLong(1), scale),
          s"num=${r.getLong(0)} den=${r.getLong(1)} scale=$scale")
      }
    }
  }
}

/** Property-style checks for the scalar layers: structural laws verified
  * over many seeded-random inputs (no scalatest↔scalacheck bridge jar on
  * the offline classpath, so the generators are a seeded Random). */
class PropertiesSpec extends AnyFunSuite {
  private def randomBytes(rnd: scala.util.Random, max: Int = 64): Array[Byte] =
    Array.fill(rnd.nextInt(max))(rnd.nextInt().toByte)

  test("hex/unhex round-trip for arbitrary byte strings") {
    val rnd = new scala.util.Random(42)
    (1 to 300).foreach { _ =>
      val b = randomBytes(rnd)
      assert(Crypto.unhex(Crypto.hex(b)).sameElements(b))
    }
  }

  test("digests have fixed lengths and are deterministic") {
    val rnd = new scala.util.Random(43)
    (1 to 200).foreach { _ =>
      val b = randomBytes(rnd)
      assert(Crypto.sha512_256(b).length === 32)
      assert(Crypto.ripemd160(b).length === 20)
      assert(Crypto.hash160(b).length === 20)
      assert(Crypto.sha512_256(b).sameElements(Crypto.sha512_256(b)))
    }
  }

  test("base58check uses only the base58 alphabet; version 0 prefixes '1'") {
    val alphabet = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz".toSet
    val rnd = new scala.util.Random(44)
    (1 to 200).foreach { _ =>
      val addr = Crypto.base58check(0x00, Array.fill(20)(rnd.nextInt().toByte))
      assert(addr.forall(alphabet.contains))
      assert(addr.startsWith("1"))
    }
  }

  test("c32check addresses use the c32 alphabet and the version prefix") {
    val alphabet = "0123456789ABCDEFGHJKMNPQRSTVWXYZ".toSet
    val rnd = new scala.util.Random(45)
    (1 to 200).foreach { _ =>
      val addr = Crypto.c32address(22, Array.fill(20)(rnd.nextInt().toByte))
      assert(addr.startsWith("SP")) // 'S' + c32digit(22) = 'P'
      assert(addr.drop(1).forall(alphabet.contains))
    }
  }

  test("secp256k1 decompression honors parity and y + (p−y) ≡ 0 on-curve") {
    val p = BigInt("fffffffffffffffffffffffffffffffffffffffffffffffffffffffefffffc2f", 16)
    val rnd = new scala.util.Random(46)
    var onCurve = 0
    (1 to 300).foreach { _ =>
      val x = BigInt(1, Crypto.sha256(BigInt(rnd.nextLong()).toByteArray)).mod(p)
      val y2 = (x.modPow(3, p) + 7).mod(p)
      val y = y2.modPow((p + 1) / 4, p)
      if ((y * y).mod(p) == y2) { // ~half of x values lie on the curve
        onCurve += 1
        val raw = x.toByteArray.dropWhile(_ == 0)
        val xb = Array.fill[Byte](32 - raw.length)(0) ++ raw
        val even = Crypto.decompress(2.toByte +: xb)
        val odd = Crypto.decompress(3.toByte +: xb)
        val ye = BigInt(1, even.drop(33)); val yo = BigInt(1, odd.drop(33))
        assert(!ye.testBit(0) && yo.testBit(0))
        assert((ye + yo).mod(p) == BigInt(0))
      }
    }
    assert(onCurve > 50) // the property actually exercised a decent sample
  }
}

/** Property suite for the round-5 bloom-filter join primitive, checked
  * against random member and non-member keysets. */
class LayoutAndBloomPropsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("bloom filter: zero false negatives on random keysets, bounded false positives") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(48)
    (1 to 3).foreach { round =>
      val members = Seq.fill(2000)(rnd.nextLong()).distinct
      val absent = Seq.fill(2000)(rnd.nextLong()).distinct.filterNot(members.toSet)
      val words = operators.JoinStrategies.bloomBuild(members.toDF("k"))
      def passed(xs: Seq[Long]): Long =
        xs.toDF("l_orderkey")
          .withColumn("bloom_words", typedlit(words.toSeq))
          .filter(operators.JoinStrategies.bloomHit("l_orderkey"))
          .count()
      // membership is never lost — the property the pruning join relies on
      assert(passed(members) === members.length.toLong, s"round $round")
      // and unrelated keys overwhelmingly fail: m=2^16, n<=2k, k=3 puts the
      // theoretical fp rate well under 1e-3; allow 10x slack for variance
      assert(passed(absent) <= math.max(4L, absent.length / 100L), s"round $round")
    }
  }
}
