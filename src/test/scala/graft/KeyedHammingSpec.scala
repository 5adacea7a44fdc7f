package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Equivalence pin for the r22 key-scoped Hamming near-dup pass:
  * [[Dedup.hammingNearDupFromHashesKeyed]] over a keyed frame must be
  * value-identical to running the UNKEYED machinery per key slice and
  * unioning — the composition multimodal_near_dedup previously ran.
  * The fixtures are adversarial for exactly the keyed seams: the same
  * simhash appearing under several keys (must never pair cross-key),
  * chunk buckets that flood under one key but not another (the cap is
  * per (key, chunk, cval)), duplicate groups, and singletons.
  */
class KeyedHammingSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("id", "media_type", "simhash", "n_candidates", "n_near",
        "min_hamming")
      .collect().map(_.toString).sorted.toSeq

  private def perKeyUnion(df: org.apache.spark.sql.DataFrame,
                          keys: Seq[String], maxHamming: Int,
                          maxBucket: Int): org.apache.spark.sql.DataFrame =
    keys.map { t =>
      Dedup.hammingNearDupFromHashes(
        df.filter(col("media_type") === t)
          .select(col("id"), col("simhash")),
        "id", maxHamming, maxBucket)
        .withColumn("media_type", lit(t))
    }.reduce(_.unionByName(_))

  test("keyed hamming pass == per-key union of the unkeyed machinery") {
    val sparkS = spark
    import sparkS.implicits._
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    var id = 0L
    def add(key: String, h: Long, copies: Int = 1): Unit =
      (1 to copies).foreach { _ => rows += ((id, key, h)); id += 1 }
    // duplicate group within a key; the SAME hash under another key
    // (within-group pairs must stay key-scoped)
    add("image", 0x1234567890abcdefL, copies = 3)
    add("audio", 0x1234567890abcdefL, copies = 2)
    // a near pair (hamming 2) inside image, and the partner hash
    // repeated under video where it has no mate
    add("image", 0x1234567890abcdecL)
    add("video", 0x1234567890abcdecL)
    // 40 distinct hashes sharing chunks 0, 1 and 3 under audio (the
    // i<<32 term varies only chunk 2): floods those buckets at
    // maxBucket < 40, exercising the first-chunk dedup's keyed flood
    // consultation; a 3-member sibling family under image (varying
    // chunk 3) stays below the cap
    (0 until 40).foreach(i => add("audio", 0xffffL | (i.toLong << 32)))
    (0 until 3).foreach(i => add("image", 0xffffL | (i.toLong << 48)))
    // singleton
    add("video", 0x7777777777777777L)
    val df = rows.toSeq.toDF("id", "media_type", "simhash")
    val keys = Seq("image", "audio", "video")
    for (cap <- Seq(8, 30, Int.MaxValue); mh <- Seq(8, 20)) {
      val keyed = Dedup.hammingNearDupFromHashesKeyed(
        df, "id", "media_type", maxHamming = mh, maxBucket = cap)
      val ref = perKeyUnion(df, keys, maxHamming = mh, maxBucket = cap)
      assert(canon(keyed) == canon(ref),
        s"keyed != per-key union at maxBucket=$cap maxHamming=$mh")
    }
  }

  test("a NULL key never pairs: its rows report empty stats, the keyed rows are unchanged") {
    val sparkS = spark
    import sparkS.implicits._
    val h = 0x1234567890abcdefL
    val keyed = Seq((0L, Some("image"), h), (1L, Some("image"), h),
        (2L, Some("image"), h ^ 0x3L))
      .toDF("id", "media_type", "simhash")
    // identical hashes and a near hash under the NULL key, next to the
    // same hashes under a real key
    val withNulls = keyed.unionByName(
      Seq((10L, Option.empty[String], h), (11L, Option.empty[String], h),
          (12L, Option.empty[String], h ^ 0x3L))
        .toDF("id", "media_type", "simhash"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.hammingNearDupFromHashesKeyed(df, "id", "media_type",
        maxHamming = 8, maxBucket = 10000)
    val out = run(withNulls)
    val nulls = out.filter(col("media_type").isNull)
      .select("id", "n_candidates", "n_near", "min_hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)))).sortBy(_._1).toSeq
    assert(nulls == Seq(10L, 11L, 12L).map(i => (i, 0L, 0L, None)),
      nulls.mkString("; "))
    assert(canon(out.filter(col("media_type").isNotNull)) == canon(run(keyed)))
  }

  test("keyed pass on the sf fixture matches the per-type union end to end") {
    import SparkSpec.spark.implicits._
    val hashes = graft.multimodal.Multimodal.perceptualHashes(
      graft.multimodal.Multimodal.assetsFromDocuments(
        Tables.load(spark, sf, "documents"))
        .as[graft.multimodal.Multimodal.MediaAsset]).toDF()
      .select(col("asset_id").as("id"), col("media_type"),
        col("phash").as("simhash"))
      .transform(graft.Materialize.eager)
    val keyed = Dedup.hammingNearDupFromHashesKeyed(
      hashes, "id", "media_type", maxHamming = 8, maxBucket = 10000)
    val ref = perKeyUnion(hashes, Seq("image", "audio", "video"),
      maxHamming = 8, maxBucket = 10000)
    assert(canon(keyed) == canon(ref))
  }
}
