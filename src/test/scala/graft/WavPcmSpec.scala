package graft

import org.apache.spark.sql.Row

/** WAV PCM kernels (`graft_wav_pcm_stats`, `graft_wav_decimate`,
  * `graft_audio_meta` over `graft_synth_wav`): a fuzz against a
  * clean-room reference, codegen of two kernels in one projection, and
  * NULL (never garbage) on malformed payloads. */
class WavPcmSpec extends SparkSpec {

  test("WAV PCM kernels fuzz: synth -> stats/decimate == clean-room " +
      "reference over random (n, a, b, k)") {
    val rnd = new scala.util.Random(71)
    for (_ <- 1 to 8) {
      val n = 5 + rnd.nextInt(400)
      val a = rnd.nextInt(1 << 12).toLong
      val b = rnd.nextInt(1 << 12).toLong
      val k = 2 + rnd.nextInt(5)
      val want = (0 until n).map(i => (((i * a + b) % 65536L) - 32768L).toInt)
      def statsRef(v: Seq[Int]) = (v.size.toLong,
        v.map(x => math.abs(x.toLong)).max,
        v.map(x => math.abs(x.toLong)).sum,
        v.map(x => x.toLong * x).sum,
        v.zip(v.tail).count { case (p, c) => (p < 0) != (c < 0) }.toLong)
      val dRef = (0 until n / k).map(j =>
        (want.slice(j * k, j * k + k).map(_.toLong).sum / k).toInt)
      val row = spark.sql(
        s"""SELECT graft_wav_pcm_stats(w) AS st,
           |  graft_wav_pcm_stats(graft_wav_decimate(w, ${k}L)) AS dst,
           |  graft_audio_meta(w) AS meta,
           |  graft_audio_meta(graft_wav_decimate(w, ${k}L)) AS dmeta
           |FROM (SELECT graft_synth_wav(${n}L, 8000L, ${a}L, ${b}L) AS w)"""
          .stripMargin).collect()(0)
      val st = row.getAs[Row]("st")
      val (en, ep, esa, esq, ezc) = statsRef(want)
      assert((st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3),
        st.getLong(4)) === ((en, ep, esa, esq, ezc)), s"stats n=$n a=$a b=$b")
      val dst = row.getAs[Row]("dst")
      val (dn, dp, dsa, dsq, dzc) = statsRef(dRef)
      assert((dst.getLong(0), dst.getLong(1), dst.getLong(2), dst.getLong(3),
        dst.getLong(4)) === ((dn, dp, dsa, dsq, dzc)),
        s"decimated stats n=$n a=$a b=$b k=$k")
      // the container re-enters the metadata layer: mono, 16-bit, the
      // decimated container's rate field divides down
      val meta = row.getAs[Row]("meta")
      assert(meta.getInt(0) === 1 && meta.getInt(1) === 8000 &&
        meta.getInt(2) === 16)
      val dmeta = row.getAs[Row]("dmeta")
      assert(dmeta.getInt(0) === 1 && dmeta.getInt(1) === 8000 / k &&
        dmeta.getInt(2) === 16, s"decimated rate k=$k")
    }
  }

  test("WAV PCM codegen: two non-nullable stats in one projection " +
      "(unbraced nullSafeCodeGen snippets must not collide)") {
    val r = spark.sql(
      """SELECT graft_wav_pcm_stats(graft_synth_wav(10L, 8000L, 3L, 1L))
        |    AS a,
        |  graft_wav_pcm_stats(graft_synth_wav(20L, 8000L, 5L, 2L)) AS b,
        |  graft_ppm_phash(graft_synth_ppm(9L, 9L, 1L, 2L)) AS c,
        |  graft_ppm_phash(graft_synth_ppm(10L, 10L, 2L, 3L)) AS d"""
        .stripMargin).collect()(0)
    assert(r.getAs[Row]("a").getLong(0) === 10L)
    assert(r.getAs[Row]("b").getLong(0) === 20L)
    assert(r.getAs[Row]("c").getInt(0) === 9)
    assert(r.getAs[Row]("d").getInt(0) === 10)
  }

  test("WAV PCM kernels: malformed, non-PCM16, stereo, and undersized " +
      "payloads are NULL, never garbage") {
    val rows = spark.sql(
      """SELECT
        |  graft_wav_pcm_stats(CAST('notawav' AS BINARY)) AS bad,
        |  graft_wav_decimate(CAST('RIFF' AS BINARY), 2L) AS short,
        |  graft_wav_decimate(graft_synth_wav(10L, 8000L, 3L, 1L), 11L)
        |    AS k_too_big,
        |  graft_wav_decimate(graft_synth_wav(10L, 8000L, 3L, 1L), 0L)
        |    AS k_zero
        |FROM (SELECT 1)""".stripMargin).collect()(0)
    assert(rows.isNullAt(0) && rows.isNullAt(1) && rows.isNullAt(2) &&
      rows.isNullAt(3))
    // a stereo container (channels field patched to 2) still yields
    // stream stats but refuses the mono-only decimate
    val wav = spark.sql("SELECT graft_synth_wav(10L, 8000L, 3L, 1L) AS w")
      .collect()(0).getAs[Array[Byte]](0)
    wav(22) = 2
    val df2 = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(wav)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.BinaryType))))
    val r2 = df2.selectExpr("graft_wav_pcm_stats(w) AS st",
      "graft_wav_decimate(w, 2L) AS d").collect()(0)
    assert(!r2.isNullAt(0), "stream stats decode any channel count")
    assert(r2.isNullAt(1), "decimate is mono-only")
    // a non-PCM format tag (ADPCM = 2) with bits=16 must NOT decode: the
    // payload bytes are compressed, not samples — but metadata still
    // reports the container
    val wav3 = spark.sql("SELECT graft_synth_wav(10L, 8000L, 3L, 1L) AS w")
      .collect()(0).getAs[Array[Byte]](0)
    wav3(20) = 2
    val df3 = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(wav3)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.BinaryType))))
    val r3 = df3.selectExpr("graft_wav_pcm_stats(w) AS st",
      "graft_wav_decimate(w, 2L) AS d",
      "graft_audio_meta(w) AS m").collect()(0)
    assert(r3.isNullAt(0) && r3.isNullAt(1), "non-PCM payloads never decode")
    assert(!r3.isNullAt(2), "metadata reports any format")
  }
}
