package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded self-join behind the LSH near-dup families (MinHash,
  * SimHash, pHash, SRP-cosine): rows keyed by (band, bucket key) are
  * self-joined on that key, so candidates come from one bucket
  * equi-join and never from an all-pairs comparison. A pair agreeing
  * on m bands meets in m buckets; [[PairDedup]] says how those m rows
  * become one. */
object Banding {

  /** Hot-bucket guard for every banded or keyed self-join: a bucket
    * holding f rows is f² join pairs, so one degenerate common key (a
    * stop-shingle, a mega-cluster of byte-identical docs that belongs
    * to exact dedup upstream, flat-color thumbnails hashing alike)
    * goes quadratic at design scale. Buckets over the cap are dropped
    * from the JOIN ONLY, and the SAME value is interpolated into the
    * oracle SQL, so engine and oracle agree bit-for-bit even when the
    * cap binds. */
  val MaxBucketDf = 1000

  /** How a pair that agrees on several bands is reduced to one row.
    * The cases are exclusive by type because emitting a pair only in
    * its first agreeing band is UNSOUND once buckets are capped: that
    * band may sit in a dropped bucket while a later agreeing band
    * survived, and the pair would be lost. A capped join therefore
    * dedups with a `distinct`, and an emit-once join has no cap. */
  private[ops] sealed trait PairDedup

  /** Drop buckets holding more than `maxDf` rows ([[capHotBuckets]]),
    * then `distinct` the projected pair rows (one exchange of the
    * candidate stream). */
  private[ops] final case class CapThenDistinct(maxDf: Int) extends PairDedup

  /** Uncapped; keep a pair only in the band where `agreeAt` — the index
    * of its first agreeing band, an expression over the joined `a` and
    * `b` rows (see [[firstAgreeing]]) — equals the band being joined.
    * Exactly one survivor per pair from a codegen'd filter, no
    * exchange. */
  private[ops] final case class FirstAgreeingBand(agreeAt: Column) extends PairDedup

  /** Drop hot buckets from a banding table before its self-join:
    * buckets on `keyCols` holding more than `maxDf` rows are removed
    * (from the JOIN only). */
  private[ops] def capHotBuckets(buckets: DataFrame, keyCols: Seq[String],
                                 maxDf: Int): DataFrame = {
    val dfOk = buckets.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select(keyCols.map(col): _*)
    buckets.join(dfOk, keyCols)
  }

  /** (a_id, b_id, carry…) for every pair of `bands` rows sharing all of
    * `bandKeyCols` with `a.id < b.id`, one row per pair. The head of
    * `bandKeyCols` is the band index; `carry` are expressions over the
    * joined `a.*` / `b.*` columns. */
  private[ops] def selfJoin(bands: DataFrame, id: String, bandKeyCols: Seq[String],
                            dedup: PairDedup, carry: Seq[Column] = Nil): DataFrame = {
    def join(bs: DataFrame) = bs.as("a").join(bs.as("b"),
      bandKeyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col(s"a.$id") < col(s"b.$id"))
    val pair = col(s"a.$id").as("a_id") +: col(s"b.$id").as("b_id") +: carry
    dedup match {
      case CapThenDistinct(maxDf) =>
        join(capHotBuckets(bands, bandKeyCols, maxDf)).select(pair: _*).distinct()
      case FirstAgreeingBand(agreeAt) =>
        join(bands).filter(agreeAt === col(s"a.${bandKeyCols.head}")).select(pair: _*)
    }
  }

  /** Hamming distance of two Long signatures: bit_count(a XOR b), which
    * stays inside whole-stage codegen, unlike a Scala UDF. */
  private[ops] def hamming(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b))

  /** Index of the first of `nBands` bands for which `bandXorIsZero(i)`
    * holds (a codegen'd CASE), else `nBands`. The caller recomputes band
    * agreement from key material both rows carry through the join. */
  private[ops] def firstAgreeing(nBands: Int)(bandXorIsZero: Int => Column): Column =
    (0 until nBands).foldRight(lit(nBands): Column) { (i, rest) =>
      when(bandXorIsZero(i), lit(i)).otherwise(rest)
    }

  /** Capped Hamming near-dup over an (`id`, `sig`) table of Long
    * signatures: `bandKeys` are (band index, bucket key expression over
    * `sig`); pairs sharing a bucket are candidates, verified by
    * popcount. Output (a_id, b_id, hamming). */
  private[ops] def hammingNearDup(sigs: DataFrame, id: String, sig: String,
                                  bandKeys: Seq[(Int, Column)], maxHamming: Int,
                                  maxDf: Int): DataFrame = {
    val keys = bandKeys.map { case (c, k) => struct(lit(c).as("c"), k.as("ch")) }
    val bands = sigs.select(col(id), col(sig), explode(array(keys: _*)).as("cb"))
      .select(col(id), col(sig), col("cb.c"), col("cb.ch"))
    selfJoin(bands, id, Seq("c", "ch"), CapThenDistinct(maxDf),
        Seq(hamming(col(s"a.$sig"), col(s"b.$sig")).as("hamming")))
      .filter(col("hamming") <= maxHamming)
  }
}
