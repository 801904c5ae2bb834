package graft

import graft.llm.CrossModal

/** Semantics of the cross-modal caption↔image family (r12) on a
  * fixture corpus engineered so the JOINT drop rule fires positively —
  * the sf corpus has image near-dups but no co-located caption
  * near-dups, so `joint_dup` would otherwise only ever be asserted
  * false. Image near-dup structure comes from [[graft.llm.ImageOps]]'s
  * generator (3-doc groups share a base image); the fixture aligns
  * caption duplicates with image group 0 and leaves group 1 captions
  * distinct. */
class CrossModalSpec extends SparkSpec {

  private lazy val fixture: String = {
    import spark.implicits._
    val cap0 = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      // image group 0 (docs 0..2): SAME caption → dup in both modalities
      (0L, cap0, "en", "web"),
      (1L, cap0, "en", "web"),
      (2L, cap0, "en", "web"),
      // image group 1 (docs 3..5): distinct captions → image-only dups
      (3L, "completely different text about databases and storage engines", "en", "web"),
      (4L, "a third unrelated caption mentioning volcanoes and geology", "en", "web"),
      (5L, "yet another caption on sailing ships and ocean navigation", "en", "web"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = tempDir("graft-xmodal")
    rows.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("jointPairs: joint_dup fires iff BOTH modalities are near-dups") {
    val rows = CrossModal.jointPairs(spark, fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(4), r.getBoolean(5))).toMap
    assert(rows.nonEmpty, "fixture image groups must yield candidate pairs")
    // every candidate pair stays within an image group (cross-group
    // hashes are md5-random, hamming ~32, never banded-near)
    rows.keys.foreach { case (a, b) =>
      assert(a / 3 === b / 3, s"cross-group pair ($a,$b) leaked through")
    }
    // group 0: identical captions → jaccard exactly 1.0 (micro 1000000);
    // joint_dup requires image hamming ≤ 1 as well, so at least the
    // closest pair (perturbation distance 1) fires
    val g0 = rows.filter(_._1._1 / 3 == 0)
    assert(g0.nonEmpty)
    g0.values.foreach { case (_, jacc, _) => assert(jacc === 1000000L) }
    assert(g0.exists(_._2._3 === true),
      "identical-caption image-near-dup pair must be a joint dup")
    g0.foreach { case (_, (ham, _, jd)) => assert(jd === (ham <= 1)) }
    // group 1: captions unrelated → low jaccard → never joint
    val g1 = rows.filter(_._1._1 / 3 == 1)
    g1.values.foreach { case (_, jacc, jd) =>
      assert(jacc < 200000L && !jd,
        "distinct-caption pair must not be dropped jointly")
    }
  }

  test("jointEmbed: towers are exact integers; aligned == (l1 <= threshold)") {
    val rows = CrossModal.jointEmbed(spark, fixture, maxL1 = 6000L).collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      val qs = (1 to 4).map(r.getLong)
      val ts = (5 to 8).map(r.getLong)
      qs.foreach(q => assert(q >= 0L && q <= 16L * 255))
      ts.foreach(t => assert(t >= 0L && t <= 255L))
      val l1 = qs.zip(ts).map { case (q, t) => math.abs(q - 16 * t) }.sum
      assert(r.getLong(9) === l1)
      assert(r.getBoolean(10) === (l1 <= 6000L))
    }
    // identical captions share the text tower; distinct captions don't
    val byDoc = rows.map(r => r.getLong(0) -> (5 to 8).map(r.getLong)).toMap
    assert(byDoc(0L) === byDoc(1L) && byDoc(1L) === byDoc(2L))
    assert(byDoc(3L) !== byDoc(4L))
  }

  test("curationMatrix: cells partition the corpus exactly") {
    val rows = CrossModal.curationMatrix(spark, fixture, shortChars = 61L)
      .collect()
    assert(rows.map(_.getLong(2)).sum === 6L, "cells must partition all docs")
    // caption dimension agrees with a direct count over the fixture
    val expectShort = Tables.documents(spark, fixture)
      .filter(org.apache.spark.sql.functions.col("n_chars") < 61).count()
    val short = rows.filter(_.getBoolean(1)).map(_.getLong(2)).sum
    assert(short === expectShort && short > 0 && short < 6)
  }
}
