package graft

import org.scalatest.funsuite.AnyFunSuite

/** Multimodal surface guards: the real-codec queries (PNG decode /
  * feature card / resize, multi-frame GIF) must report values that match
  * the synthesized patterns' closed forms, and the one codec-free demo
  * (mm_frames byte-windows) must keep its two value-identical shapes —
  * codegen'd built-ins (registered) and the typed mapPartitions flatMap
  * a real frame sampler would run in.
  */
class MultimodalParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  test("mm_features: real-raster feature card equals the pattern's closed " +
       "forms corpus-wide, internally consistent") {
    import org.apache.spark.sql.functions._
    val w = (lit(1) + pmod(col("doc_id"), lit(31))).cast("long")
    val h = (lit(1) + pmod(col("n_chars"), lit(29))).cast("long")
    val feat = SparkEntry.queries("mm_features")(spark, sf)
      .join(graft.Tables.documents(spark, sf).select("doc_id", "n_chars"),
        Seq("doc_id"))
    // Dims and pixel count against independent closed forms; moment
    // consistency (min ≤ mean ≤ max, mean from sum) against themselves.
    val bad = feat.where(
      col("width") =!= w || col("height") =!= h ||
        col("n_px") =!= w * h ||
        col("px_mean_milli") =!= expr("px_sum * 1000 div n_px") ||
        col("px_min").cast("long") * 1000 > col("px_mean_milli") ||
        col("px_max").cast("long") * 1000 < col("px_mean_milli") ||
        col("format") =!= "gray")
      .count()
    assert(bad == 0L)
    assert(feat.count() > 0L)
  }

  test("KeyframeCodec: partition-level probe-sampling hash path is " +
       "bit-identical to the per-doc full-raster path") {
    import graft.queries.MultimodalOps.KeyframeCodec
    // Cover every (group geometry, variant, frame) shape plus arbitrary
    // ids: the two paths must agree on every hash BIT (the partition
    // form reads 64 probe pixels via getRGB where the raster form
    // materialized all w×h first — same values at the same points).
    val ids = ((1L to 64L) ++ Seq(1000L, 12345L, 99991L, 424243L)).toList
    val viaRaster = ids.flatMap(KeyframeCodec.frameHashes)
    val viaPartition = KeyframeCodec.frameHashesPartition(ids.iterator).toList
    assert(viaPartition == viaRaster)
    assert(viaRaster.nonEmpty)
  }

  test("mm_frames: built-ins plan == mapPartitions codec plan") {
    val expr = rows(SparkEntry.queries("mm_frames")(spark, sf))
    val codec = rows(graft.queries.MultimodalOps.framesViaCodec(spark, sf))
    assert(expr == codec)
    assert(expr.nonEmpty)
  }

  test("mm_decode_png: real ImageIO round-trip, unit vectors") {
    import graft.queries.MultimodalOps.{MmPng, PngCodec}
    val png = PngCodec.encode(5, 3, 17)
    // Real PNG bytes: the 8-byte signature, not a stub container.
    assert(png.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
    assert(PngCodec.decode(9L, png) == MmPng(9L, 5, 3, 5L * 3 * 17))
    // Degenerate 1×1, gray boundary values.
    assert(PngCodec.decode(0L, PngCodec.encode(1, 1, 0)) == MmPng(0L, 1, 1, 0L))
    assert(PngCodec.decode(1L, PngCodec.encode(1, 1, 255)) == MmPng(1L, 1, 1, 255L))
    // Garbage bytes must fail loudly, not return zeros.
    intercept[IllegalArgumentException] {
      PngCodec.decode(2L, Array[Byte](1, 2, 3, 4))
    }
  }

  test("mm_decode_wav: real WAVE round-trip, unit vectors") {
    import graft.queries.MultimodalOps.{MmWav, WavCodec}
    val wav = WavCodec.encode(7L, 300)
    // Real RIFF container, not a stub byte bag.
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val expSum = (0 until 300).map(i => (i * 13L + 7) % 251).sum
    assert(WavCodec.decode(7L, wav) == MmWav(7L, 300L, 8000, expSum, 0, 250))
    // Degenerate 1-frame stream.
    assert(WavCodec.decode(0L, WavCodec.encode(0L, 1)) == MmWav(0L, 1L, 8000, 0L, 0, 0))
    // Garbage must fail loudly, not decode to zeros.
    intercept[IllegalArgumentException] {
      WavCodec.decode(2L, Array[Byte](1, 2, 3, 4))
    }
  }

  test("mm_decode_wav query: decoded values equal the synthesis closed forms corpus-wide") {
    import org.apache.spark.sql.functions._
    val n = (lit(64) + pmod(col("n_chars"), lit(577))).cast("long")
    val decoded = SparkEntry.queries("mm_decode_wav")(spark, sf)
      .join(graft.Tables.documents(spark, sf).select("doc_id", "n_chars"),
        Seq("doc_id"))
    val bad = decoded.where(col("n_frames") =!= n ||
      col("sample_rate_hz") =!= 8000 ||
      col("byte_min") > col("byte_max") ||
      col("byte_sum") < col("byte_min").cast("long") * col("n_frames") ||
      col("byte_sum") > col("byte_max").cast("long") * col("n_frames")).count()
    assert(bad == 0L)
    assert(decoded.count() > 0L)
  }

  test("mm_wav_features: windowed moments from really decoded PCM equal an " +
       "independent local model corpus-wide") {
    import graft.queries.MultimodalOps.{WavCodec, WavWindow}
    // Local model straight from the sample closed form — no codec, no
    // Spark: the query computes the same windows from REALLY decoded
    // WAVE bytes, so equality proves decode + window math end to end.
    def model(id: Long, nChars: Long): Seq[(Long, Int, Int, Long, Int)] = {
      val n = WavCodec.synthFrames(nChars)
      val c = Array.tabulate(n)(i => WavCodec.sample(id, i) - 128)
      (0 until (n + WavWindow - 1) / WavWindow).map { wi =>
        val start = wi * WavWindow
        val end = math.min(n, start + WavWindow)
        val energy = (start until end).map(i => c(i).toLong * c(i)).sum
        val zc = (start until end - 1).count(i => c(i) * c(i + 1) < 0)
        (id, wi, end - start, energy, zc)
      }
    }
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = docs.flatMap { case (id, nc) => model(id, nc) }.toSet
    val got = SparkEntry.queries("mm_wav_features")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4))).toSet
    assert(got == expected, s"got ${got.size} windows, expected ${expected.size}")
    assert(got.nonEmpty)
    // Every doc's windows partition its frames exactly.
    // toSeq before summing: mapping a SET of windows to their (mostly
    // equal) sample counts would collapse duplicates.
    val bySum = got.groupBy(_._1).view.mapValues(_.toSeq.map(_._3.toLong).sum)
    docs.foreach { case (id, nc) =>
      assert(bySum(id) == WavCodec.synthFrames(nc).toLong,
        s"doc $id: window sample counts must sum to the frame count")
    }
  }

  test("mm_decode_png query: decoded values equal the synthesis closed forms corpus-wide") {
    import org.apache.spark.sql.functions._
    // Every dimension checked against its INDEPENDENT closed form
    // (height needs n_chars from documents) — px_sum deliberately uses
    // the closed-form w/h, not the decoded ones, so a systematic
    // dimension misread cannot cancel out of the pixel-sum check.
    val w = lit(1) + pmod(col("doc_id"), lit(31))
    val h = lit(1) + pmod(col("n_chars"), lit(29))
    val g = pmod(col("doc_id"), lit(251))
    val decoded = SparkEntry.queries("mm_decode_png")(spark, sf)
      .join(graft.Tables.documents(spark, sf).select("doc_id", "n_chars"),
        Seq("doc_id"))
    val mismatches = decoded
      .where(col("width") =!= w || col("height") =!= h ||
        col("px_sum") =!= w.cast("long") * h * g)
      .count()
    assert(mismatches == 0L)
    assert(decoded.count() > 0L)
  }

  test("mm_frames registered plan stays whole-stage codegen (no codec shuffle shapes)") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      SparkEntry.queries("mm_frames")(spark, sf).explain("formatted")
    }
    val p = out.toString
    assert(p.contains("[codegen id :"), p.take(400))
    assert(!p.contains("DeserializeToObject"),
      "the codec-free byte-window query must not pay typed-object serialization")
  }

  test("mm_features: the codec pipeline plans no exchange and decodes " +
       "from a scan of at least 2 splits (decode is partition-streaming)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = SparkEntry.queries("mm_features")(spark, sf)
      .queryExecution.executedPlan
    // The connector layer hands the corpus over already spread, so the
    // decode and feature extraction run in the scan's own tasks.
    assert(!plan.toString.contains("Exchange"), plan.toString.take(800))
    val splits = plan.collect { case scan: FileSourceScanExec =>
      scan.inputRDDs().head.getNumPartitions }
    assert(splits.nonEmpty && splits.forall(_ >= 2), s"$splits\n${plan.toString.take(800)}")
  }

  test("mm_frames_gif: real multi-frame GIF round-trip, every geometry " +
       "including sub-interlace-stride heights") {
    import graft.queries.MultimodalOps.GifCodec
    // h in 1..8 crosses the 8-row interlace stride — the JDK writer's
    // DEFAULT (interlaced) output zeroes trailing rows for h < 8, which
    // is exactly why encode pins MODE_DISABLED; this test fails if that
    // regresses. Frame count, per-frame dims, and pattern sums must all
    // survive the real writeToSequence → read(i) round-trip.
    for (h <- 1 to 8; w <- Seq(1, 5, 31); nf <- Seq(1, 3, 5)) {
      val id = (w * 100 + h).toLong
      val frames = GifCodec.decodeFrames(id, GifCodec.encode(id, w, h, nf)).toSeq
      assert(frames.size == nf, s"w=$w h=$h: ${frames.size} frames, wanted $nf")
      frames.foreach { fr =>
        assert(fr.width == w && fr.height == h,
          s"w=$w h=$h frame ${fr.frame_idx}: got ${fr.width}x${fr.height}")
        val expected = (0 until w).flatMap(x => (0 until h).map(y =>
          GifCodec.pixel(id, fr.frame_idx, x, y).toLong)).sum
        assert(fr.px_sum == expected,
          s"w=$w h=$h frame ${fr.frame_idx}: sum ${fr.px_sum}, wanted $expected")
      }
    }
  }

  test("mm_silence_split: segments alternate, partition the windows, and " +
       "land on the synthesized burst boundaries") {
    import graft.queries.MultimodalOps.{WavCodec, WavWindow}
    val segs = SparkEntry.queries("mm_silence_split")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getInt(3),
        r.getInt(4), r.getLong(5), r.getLong(6)))
    assert(segs.nonEmpty)
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    segs.groupBy(_._1).foreach { case (id, ss) =>
      val ordered = ss.sortBy(_._2)
      // seg_idx dense from 0; consecutive segments alternate class
      // (otherwise they'd be one run); start/extent tile the window axis.
      assert(ordered.map(_._2).toSeq == ordered.indices.toSeq)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 != b._3, s"doc $id: adjacent segments same class")
          assert(b._4 == a._4 + a._5, s"doc $id: segment gap/overlap")
        case _ =>
      }
      assert(ordered.head._4 == 0)
      val n = WavCodec.synthFrames(docs(id))
      assert(ordered.map(_._6).sum == n.toLong,
        s"doc $id: segment samples must sum to the frame count")
      assert(ordered.map(_._5.toLong).sum == ((n + WavWindow - 1) / WavWindow).toLong)
      // Silent segments carry zero energy by construction; voiced never.
      ordered.foreach { s =>
        if (s._3) assert(s._7 == 0L, s"doc $id: silent segment with energy")
        else assert(s._7 > 0L, s"doc $id: voiced segment without energy")
      }
    }
  }

  test("mm_scene_detect: within-scene pairs are pixel-identical through " +
       "the real codec, scene boundaries differ at every pixel") {
    val diffs = SparkEntry.queries("mm_scene_detect")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getBoolean(5)))
    assert(diffs.nonEmpty)
    diffs.foreach { case (id, f, w, h, diff, cut) =>
      val boundary = (f / 2) != ((f - 1) / 2)
      assert(cut == boundary,
        s"doc $id frame $f: cut=$cut but scene boundary=$boundary")
      if (boundary) {
        // +17 mod 251 moves EVERY pixel by 17 or 234.
        assert(diff >= 17L * w * h && diff <= 234L * w * h,
          s"doc $id frame $f: boundary diff $diff outside per-pixel bounds")
      } else assert(diff == 0L, s"doc $id frame $f: within-scene diff $diff")
    }
    // Docs with ≥3 frames must show both classes.
    assert(diffs.exists(_._6) && diffs.exists(!_._6))
  }

  test("mm_pair_screen: verdicts are self-consistent with the row's own " +
       "signals, compose the registered queries verbatim, and hit " +
       "several arms") {
    import org.apache.spark.sql.functions.col
    import graft.queries.MultimodalOps._
    val rows = SparkEntry.queries("mm_pair_screen")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3),
        r.getInt(4), r.getInt(5), r.getBoolean(6), r.getString(7)))
    assert(rows.length == Tables.documents(spark, sf).count())
    // The keep rule recomputed locally from the row's own signal columns
    // (including the two arms this corpus never reaches) must agree.
    val img = SparkEntry.queries("mm_features")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    rows.foreach { case (id, nPx, rng, lang, nTok, punct, keep, reason) =>
      val (w, h) = img(id)
      val want =
        if (nPx < MmPairMinPx) "img_small"
        else if (math.max(w, h) > math.min(w, h) * MmPairAspectMax) "img_aspect"
        else if (rng < MmPairMinRange) "img_flat"
        else if (lang == "und") "cap_lang"
        else if (nTok < MmPairMinTok || nTok > MmPairMaxTok) "cap_len"
        else if (punct * MmPairPunctMul > nTok) "cap_punct"
        else "kept"
      assert(reason == want && keep == (want == "kept"),
        s"doc $id: got $reason, rule says $want")
    }
    // Signals must BE the registered queries' values (composition check).
    val q = SparkEntry.queries("tx_quality")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3))).toMap
    val lg = SparkEntry.queries("tx_langid")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    rows.foreach { case (id, _, _, lang, nTok, punct, _, _) =>
      assert((nTok, punct) == q(id) && lang == lg(id),
        s"doc $id: pair signals drifted from the registered queries")
    }
    val arms = rows.map(_._8).toSet
    assert(arms.size >= 4 && arms.contains("kept"), s"arms hit: $arms")
  }
}
