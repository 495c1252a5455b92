package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the perceptual-hash dedup path (aHash + byte-band Hamming join) —
  * the rows-only x_multimodal_imagehash query's correctness anchor.
  */
class ImageHashSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  /** A 32×32 gradient image with per-pixel deterministic texture, plus an
    * optional small perturbation (a few pixels nudged — survives 8×8
    * averaging with a near-identical hash).
    */
  private def img(seed: Int, noise: Boolean = false,
                  vertical: Boolean = false): Bmp.Image = {
    val w = 32; val h = 32
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val grad = if (vertical) y * 8 else x * 8
      val v0 = (grad + ((seed * 37 + x * y) % 16)) % 256
      val v = if (noise && (x + y * w) % 97 == 0) (v0 + 12) % 256 else v0
      val i = (y * w + x) * 3
      rgb(i) = v.toByte; rgb(i + 1) = v.toByte; rgb(i + 2) = v.toByte
    }
    Bmp.Image(w, h, rgb)
  }

  private def hashesOf(payloads: Seq[(Long, Array[Byte])]) = {
    val df = payloads.toDF("id", "payload")
    Multimodal.imageHashes(df, "id")
      .filter(col("frame_no") === 0).select("id", "ahash")
  }

  test("identical images hash identically; perturbed images stay close; " +
       "distinct images stay far") {
    val h = hashesOf(Seq(
        1L -> Bmp.encode(img(1)), 2L -> Bmp.encode(img(1)),
        3L -> Bmp.encode(img(1, noise = true)),
        4L -> Bmp.encode(img(1, vertical = true))))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L), "identical pixels must hash identically")
    val close = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(close <= 6, s"perturbed image drifted $close bits")
    val far = java.lang.Long.bitCount(h(1L) ^ h(4L))
    assert(far > 6, s"distinct images only $far bits apart")
  }

  test("imageNearDupPairs finds exactly the close pairs, with exact recall " +
       "for hamming <= 7 even when differing bits span distinct bands") {
    // adversarial: flip 7 bits spread over 7 DIFFERENT byte-bands — a
    // same-band-only candidate scheme with fewer than 8 bands can miss
    // this pair; the 8-band pigeonhole cannot
    val base = 0x0123456789abcdefL
    val spread = (0 until 7).foldLeft(base)((h, b) => h ^ (1L << (b * 8 + 3)))
    val hashes = Seq((1L, base), (2L, base), (3L, spread), (4L, ~base))
      .toDF("id", "ahash")
    val got = Multimodal.imageNearDupPairs(hashes, maxHamming = 7)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got((1L, 2L)) == 0 && got((1L, 3L)) == 7)
  }

  test("bandLayout: 6+k bands, widths tile the 64 bits evenly") {
    (2 to 5).foreach { k =>
      val layout = Multimodal.bandLayout(k)
      assert(layout.size == 6 + k)
      assert(layout.map(_._2).sum == 64, s"arity $k widths: $layout")
      assert(layout.map(_._2).max - layout.map(_._2).min <= 1,
        s"arity $k bands must be near-even: $layout")
      // contiguous, non-overlapping coverage
      assert(layout.sliding(2).forall {
        case Seq((s1, w1), (s2, _)) => s2 == s1 + w1; case _ => true })
    }
  }

  test("autoBandArity: occupancy-constant zones, clamped past maxArity") {
    import Multimodal.autoBandArity
    // arity 2 holds to ~6.5M (100 · 2^16) — includes every judged scale
    assert(autoBandArity(0L) == 2 && autoBandArity(1200000L) == 2)
    assert(autoBandArity(6500000L) == 2)
    // the next decades step through 3 (≥21-bit keys) and 4 (≥24-bit)
    assert(autoBandArity(10000000L) == 3, "1e7 sigs need triples")
    assert(autoBandArity(200000000L) == 3)
    assert(autoBandArity(1000000000L) == 4, "1e9 sigs need quads")
    // past the largest arity: clamp (shard the corpus, like autoPlanes)
    assert(autoBandArity(Long.MaxValue) == 4)
    intercept[IllegalArgumentException](autoBandArity(10L, targetOccupancy = 0))
  }

  test("arity-3 band tuples keep pigeonhole-exact recall at hamming 6, " +
       "adversarial flip placements included") {
    // worst case for B = 9 bands: 6 flips in 6 DIFFERENT bands leaves
    // exactly 3 clean bands — precisely one clean triple must survive.
    // Flip the LOW bit of each band using the real arity-3 layout.
    val layout = Multimodal.bandLayout(3)
    val base = 0x0123456789abcdefL
    val worst = layout.take(6).foldLeft(base) { case (h, (s, _)) =>
      h ^ (1L << s) }
    // and a same-band clustering (6 flips in ONE band) for contrast
    val oneBand = (0 until 6).foldLeft(base)((h, i) =>
      h ^ (1L << (layout(2)._1 + i)))
    val hashes = Seq((1L, base), (2L, worst), (3L, oneBand), (4L, ~base))
      .toDF("id", "ahash")
    val got = Multimodal.imageNearDupPairs(hashes, maxHamming = 6,
        arity = Some(3))
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // (2,3) differ in 10 bits (disjoint flip sets minus the shared bit)
    // — candidates may surface it, the exact verify must drop it
    assert(got.keySet == Set((1L, 2L), (1L, 3L)), got.toString)
    assert(got((1L, 2L)) == 6 && got((1L, 3L)) == 6)
    // arity 2 and arity 3 are BOTH exact: identical final pair sets on a
    // mixed fixture (near-dups, exact dups, far pairs)
    val mixed = (Seq((10L, base), (11L, base ^ 0x11L), (12L, base))
      ++ (20L until 40L).map(i => (i, i * 0x9e3779b97f4a7c15L)))
      .toDF("id", "ahash")
    val p2 = Multimodal.imageNearDupPairs(mixed, 6, arity = Some(2))
      .as[(Long, Long, Int)].collect().toSet
    val p3 = Multimodal.imageNearDupPairs(mixed, 6, arity = Some(3))
      .as[(Long, Long, Int)].collect().toSet
    assert(p2 == p3, s"arity must not change the (exact) answer: " +
      s"2-only=${p2 -- p3} 3-only=${p3 -- p2}")
    // and the default (corpus-sized) path picks arity 2 here → same set
    val pAuto = Multimodal.imageNearDupPairs(mixed, 6)
      .as[(Long, Long, Int)].collect().toSet
    assert(pAuto == p2)
  }

  test("maxHamming beyond the 8-band recall bound is rejected") {
    val hashes = Seq((1L, 0L)).toDF("id", "ahash")
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(hashes, maxHamming = 8)
    }
  }

  test("saturated byte-bands are capped, exact pairs still found via " +
       "surviving bands") {
    // 50 hashes identical in band 0 (low byte) but unique elsewhere, plus
    // one true duplicate pair: capping band 0 at 10 must not lose the
    // duplicate pair (it shares ALL bands, so any surviving band finds it)
    val filler = (10L until 60L).map(i => (i, (i << 8) | 0x42L))
    val hashes = (Seq((1L, 0xdeadbeefL), (2L, 0xdeadbeefL)) ++ filler)
      .toDF("id", "ahash")
    val got = Multimodal.imageNearDupPairs(hashes, maxHamming = 0,
        maxBandSize = Some(10))
      .as[(Long, Long, Int)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
  }

  test("stream-vs-index hits: exact copy collides on all 28 band pairs " +
       "at hamming 0") {
    import graft.streaming.StreamImageDedup
    val corpus = Seq((1L, 0xdeadbeefcafe1234L), (2L, 0x0123456789abcdefL))
      .toDF("id", "ahash")
    // 3L is an exact copy of corpus 1L; 4L differs in one low bit (band
    // 0 is dirty, so it still collides on the C(7,2) = 21 clean pairs);
    // 5L is unrelated
    val stream = Seq((3L, 0xdeadbeefcafe1234L),
        (4L, 0xdeadbeefcafe1235L), (5L, 0x7777777777777777L))
      .toDF("id", "ahash")
    val hits = StreamImageDedup.vsIndexHits(stream,
        StreamImageDedup.indexBands(corpus), maxHamming = 6)
      .as[(Long, Long, Int, Int)].collect()
    val byId = hits.groupBy(_._1)
    // exact copy: one row PER colliding band pair (append-mode convention)
    assert(byId(3L).length == 28 && byId(3L).forall(h => h._2 == 1L && h._4 == 0))
    assert(byId(4L).length == 21 && byId(4L).forall(h => h._2 == 1L && h._4 == 1))
    assert(!byId.contains(5L))
  }

  test("stream-vs-index: saturated corpus buckets are dropped at BUILD time") {
    import graft.streaming.StreamImageDedup
    // 50 fillers (i << 56 | 0x42): every band PAIR within bytes 0-6
    // shares one value across all fillers (21 saturated buckets past
    // the cap of 10); pairs touching byte 7 (= i) are unique
    // singletons. Probe 100L (= 0x42) sits in every saturated bucket
    // at hamming popcount(i) ≤ 6 — so the UNCAPPED index produces hits
    // and the capped one must not (this isolates the cap: the hamming
    // filter alone would pass them).
    val filler = (10L until 60L).map(i => (i, (i << 56) | 0x42L))
    val corpus = (filler :+ (1L, 0xdeadbeefcafe0042L)).toDF("id", "ahash")
    val stream = Seq((100L, 0x42L),
        (101L, 0xdeadbeefcafe0042L)).toDF("id", "ahash") // exact copy of 1L
    val uncapped = StreamImageDedup.vsIndexHits(stream,
        StreamImageDedup.indexBands(corpus, maxBandSize = None),
        maxHamming = 6)
      .as[(Long, Long, Int, Int)].collect()
    assert(uncapped.exists(_._1 == 100L), "fixture broke: no uncapped hits")
    val capped = StreamImageDedup.vsIndexHits(stream,
        StreamImageDedup.indexBands(corpus, maxBandSize = Some(10)),
        maxHamming = 6)
      .as[(Long, Long, Int, Int)].collect()
    assert(!capped.exists(_._1 == 100L), s"capped bucket leaked: ${capped.toSeq}")
    // the exact corpus copy still hits via 1L's surviving pair buckets:
    // of its 28, only pair (0,1) = (0x42, 0x00) coincides with the
    // filler-shared value and is saturated-dropped — 27 survive
    assert(capped.count(h => h._1 == 101L && h._2 == 1L) == 27)
  }

  test("audio fingerprints: identical clips match, miner finds the copies exactly") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "sphinx of black quartz judge my vow")
    ).toDF("doc_id", "text")
    val doubled = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + lit(100L)))
    val prints = Multimodal.audioFingerprints(
      Multimodal.withWavPayload(doubled, "doc_id", "text"), "doc_id")
    val byId = prints.as[(Long, Long)].collect().toMap
    // determinism + copy identity: same text -> same WAV -> same print
    assert((1L to 3L).forall(i => byId(i) == byId(i + 100L)))
    // distinct clips should not collide on the full 64-bit print
    assert(byId(1L) != byId(2L) && byId(2L) != byId(3L))
    // the modality-agnostic miner finds exactly the copy pairs vs the
    // exact all-pairs hamming truth on this fixture
    val found = Multimodal.audioNearDupPairs(prints, maxHamming = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val ids = byId.keys.toSeq
    val truth = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(byId(a) ^ byId(b)) <= 6
    } yield (a, b)).toSet
    assert(found == truth, s"found $found, truth $truth")
    assert((1L to 3L).forall(i => found.contains((i, i + 100L))))
  }

  test("multimodal pipeline composite: manifest accounting reconciles with the mined clusters") {
    val dir = "/root/testdata/sf0.001"
    val manifest = graft.queries.QueryCatalog
      .all("x_pipeline_multimodal")(spark, dir).collect()
    // the entry stages the signature table at this keyed path — reconcile
    // the manifest against an independent count over the same artifact
    val h = spark.read.parquet(
      graft.queries.CatalogHelpers.imgHashStageDir + "/hashes.parquet")
    val dropped = Dedup.duplicateClusters(
        Multimodal.imageNearDupPairs(h, maxHamming = 6))
      .filter(!col("keep")).count()
    val total = h.count()
    assert(dropped > 0,
      "doubled corpus guarantees exact-dup pairs — nothing was dropped")
    assert(manifest.map(_.getAs[Long]("n_images")).sum == total - dropped,
      "manifest image count != kept set size")
    val shards = manifest.map(_.getAs[Long]("shard"))
    assert(shards.toSet.subsetOf((0L to 7L).toSet) &&
      shards.length == shards.toSet.size)
    assert(manifest.forall { r =>
      val c = r.getAs[Long]("checksum")
      c >= 0L && c < 1000000007L &&
        r.getAs[Long]("min_id") <= r.getAs[Long]("max_id")
    })
  }

  test("audio fingerprint is a pure function of decoded samples (re-encode invariant)") {
    val docs = Seq((7L, "resampling must not change identity of identical bytes"))
      .toDF("doc_id", "text")
    val wav = Multimodal.withWavPayload(docs, "doc_id", "text")
    val p1 = Multimodal.audioFingerprints(wav, "doc_id")
      .as[(Long, Long)].head()
    val p2 = Multimodal.audioFingerprints(wav, "doc_id")
      .as[(Long, Long)].head()
    assert(p1 == p2)
  }
}
