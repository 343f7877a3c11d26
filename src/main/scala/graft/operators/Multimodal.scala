package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Multimodal column handling (north-star addition): image/audio/
  * video as opaque `binary` columns + typed metadata, with the
  * decode/feature steps STUBBED behind deterministic fakes (the
  * container has no image/audio libs — see builder brief). The
  * Spark-side plumbing is real: schemas, batch iteration shape,
  * partition behavior, and output contracts are exactly what a
  * JNI/Pandas-UDF decoder would plug into.
  */
object Multimodal {

  /** Typed metadata every asset row carries alongside its bytes. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("media_type", StringType), // image | audio | video
    StructField("content", BinaryType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)
  ))

  /** Wrap a text corpus as fake binary assets — deterministic bytes
    * so tests are stable. Stands in for `spark.read.format(
    * "binaryFile")` over an object store at scale.
    */
  def syntheticAssets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol), lit(3)) + 1).cast("int")).as("media_type"),
      encode(col(textCol), "UTF-8").as("content"),
      (pmod(col(idCol), lit(64)) * 16 + 16).cast("int").as("width"),
      (pmod(col(idCol), lit(48)) * 16 + 16).cast("int").as("height"),
      (length(col(textCol)) * 100).cast("long").as("duration_ms"))

  /** Metadata extraction over the binary column — real built-ins
    * (octet_length, hashes) that a scan would push down / compute
    * without decoding.
    */
  def describeAssets(assets: DataFrame): DataFrame =
    assets.select(
      col("asset_id"), col("media_type"),
      octet_length(col("content")).as("n_bytes"),
      xxhash64(col("content")).as("content_hash"),
      col("width"), col("height"), col("duration_ms"))

  /** STUB decoder: a real implementation would JNI into an image
    * library (or arrow-batch into a Python worker via mapInPandas on
    * PySpark). The deterministic fake extracts a fixed-length
    * "feature vector" from the bytes so downstream stages (ANN over
    * image features, dedup by perceptual hash) are fully exercised.
    * A column-level UDF (not an rdd hop) so the frame stays inside
    * Catalyst: upstream filters/projections still push down, column
    * pruning still reaches the scan, and AQE still re-plans around
    * the decode stage — the rdd round-trip severed all three.
    */
  def decodeFeaturesStub(assets: DataFrame, dim: Int = 16): DataFrame = {
    val decode = udf { (bytes: Array[Byte]) =>
      val feat = new Array[Float](dim)
      if (bytes != null) {
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < bytes.length) {
          h ^= bytes(i).toLong; h *= 0x100000001b3L
          feat(i % dim) += ((h >> 16) & 0xFF).toFloat / 255f
          i += 1
        }
      }
      feat.toSeq
    }
    assets.withColumn("features", decode(col("content")))
  }

  /** STUB resize: contract of an image-resize stage (new dims +
    * re-encoded bytes). Fake keeps a deterministic byte slice.
    *
    * The scale is MATERIALIZED before either dimension is rewritten:
    * a lazy `scale` Column would re-resolve against the already-
    * resized width when computing height (withColumn rebinds by
    * name), silently skipping the height scale for every landscape
    * asset — caught by the mm_resize DuckDB oracle.
    */
  def resizeStub(assets: DataFrame, maxSide: Int): DataFrame =
    assets
      .withColumn("__scale", least(lit(1.0),
        lit(maxSide).cast("double") / greatest(col("width"), col("height"))))
      .withColumn("width", (col("width") * col("__scale")).cast("int"))
      .withColumn("height", (col("height") * col("__scale")).cast("int"))
      .withColumn("content",
        substring(col("content"), 1, 4096)) // fake re-encode
      .drop("__scale")

  /** STUB frame sampling for video rows: explode N evenly-spaced
    * "frames" with timestamps — the shape a real ffmpeg-backed
    * sampler produces (one row per frame, frame bytes stubbed as a
    * slice).
    */
  def sampleFramesStub(assets: DataFrame, everyMs: Long): DataFrame = {
    require(everyMs > 0, s"frame interval must be positive, got $everyMs")
    assets.filter(col("media_type") === "video")
      .withColumn("frame_ts_ms",
        // null/negative durations clamp to 0 → exactly the t=0 frame
        // (a null duration silently dropping the asset, or a negative
        // one failing the whole job on sequence() bounds, both hide
        // upstream data problems)
        explode(sequence(lit(0L),
          greatest(coalesce(col("duration_ms"), lit(0L)), lit(0L)), lit(everyMs))))
      .withColumn("frame",
        substring(col("content"),
          (pmod(col("frame_ts_ms"), lit(1024)) + 1).cast("int"), lit(256)))
      .select("asset_id", "frame_ts_ms", "frame")
  }

  /** The ONE bytes → features swap slot (r19): every perceptual
    * scorer — the deterministic byte-chunk fake the DuckDB oracles
    * replay, the real image decoder below, a future JNI/ffmpeg
    * extractor — flows through this same column-level UDF shape, so
    * swapping the scorer never changes the plan: upstream filters and
    * projections still push down, column pruning still reaches the
    * scan, AQE still re-plans around the decode stage (the rdd-hop
    * alternative severed all three). `extract` must be deterministic
    * and total (null/garbage bytes included) — the near-dup stage
    * downstream assumes replayable vectors.
    */
  def perceptualFeaturesWith(assets: DataFrame,
      extract: Array[Byte] => Seq[Float]): DataFrame = {
    val f = udf { (bytes: Array[Byte]) => extract(bytes) }
    assets.withColumn("features", f(col("content")))
  }

  /** The deterministic byte-chunk-mean scorer: per-chunk byte means —
    * the STRUCTURE of real perceptual features (pHash DCT
    * coefficients, audio MFCC frames: LOCAL aggregates of the media,
    * so a local edit moves a few coefficients), where
    * [[decodeFeaturesStub]]'s rolling hash deliberately avalanches
    * (an embedding-ish fake). A near-dup detector needs the local
    * kind: byte-identical assets get equal vectors, locally-edited
    * assets get mostly-equal vectors. Library-free and exactly
    * replayable in SQL — the oracle/test scorer, and the fallback for
    * bytes no real decoder accepts.
    */
  private[graft] def byteChunkMeans(dim: Int): Array[Byte] => Seq[Float] = {
    require(dim >= 1, s"byteChunkMeans: dim must be positive, got $dim")
    bytes => {
      val feat = new Array[Float](dim)
      if (bytes != null && bytes.length > 0) {
        val cnt = new Array[Int](dim)
        val chunk = math.max(1, (bytes.length + dim - 1) / dim)
        var i = 0
        while (i < bytes.length) {
          val c = math.min(i / chunk, dim - 1)
          feat(c) += (bytes(i) & 0xFF) / 255f
          cnt(c) += 1
          i += 1
        }
        var j = 0
        while (j < dim) { if (cnt(j) > 0) feat(j) /= cnt(j); j += 1 }
      }
      feat.toSeq
    }
  }

  /** STUB perceptual features — [[byteChunkMeans]] through the swap
    * slot; the scorer the mm_features/mm_neardup oracles replay. */
  def perceptualFeaturesStub(assets: DataFrame, dim: Int = 64): DataFrame =
    perceptualFeaturesWith(assets, byteChunkMeans(dim))

  /** REAL image scorer (r19, the r18 verdict's #5): decode PNG/JPEG
    * (any `javax.imageio` reader) and emit an aHash-style √dim × √dim
    * grid of block-mean LUMA values — chunk means over real pixel
    * data, so the perceptual-locality contract of the byte fake holds
    * over the decoded image: a local edit moves the few grid cells it
    * touches; a re-encode (PNG → JPEG of the same image) perturbs
    * every cell slightly but flips few mean-threshold bits, so
    * visually identical assets still pair in [[perceptualHashPairs]]
    * (MultimodalSpec pins exactly that). Luma is the standard BT.601
    * weighting. Bytes NO reader accepts (audio/video/corrupt rows in
    * a mixed asset table — decode never throws, it abstains) fall
    * back to [[byteChunkMeans]]: the byte-locality proxy remains the
    * best available signal there, and vectors stay total and
    * deterministic for the replay contract.
    *
    * Scale shape: identical to the fake — one tight-loop scalar UDF
    * at the scan, no rdd hop, no shuffle; the JVM-native decoder runs
    * per-row inside the executor (the mapInPandas batch shape is only
    * needed when the decoder lives in a Python worker). Decode work
    * per row is BOUNDED: dimensions are read from the header without
    * decoding, and anything above [[MaxDecodePixels]] (a
    * decompression bomb, by construction of a mixed crawl) abstains
    * to the fallback instead of allocating its raster.
    */
  /** Decode bound: images above this pixel count take the fallback
    * instead of decoding (review r19) — a decompression-bomb PNG (a
    * tiny byte stream declaring 40000x40000 pixels) would otherwise
    * allocate gigabytes inside the UDF. The header is read WITHOUT
    * decoding to check this, so the bomb never materializes. 16.7M
    * pixels (4096x4096) decodes to a ~64 MB int raster — bounded work
    * per row at any input.
    */
  private val MaxDecodePixels: Long = 16L << 20

  /** One decoded image's block-mean luma grid (BT.601). Bulk-reads
    * each block's pixels with one getRGB(rect) call (review r19: the
    * per-pixel getRGB re-runs the color-model conversion dispatch per
    * sample). */
  private def blockLuma(im: java.awt.image.BufferedImage, g: Int,
      dim: Int): Seq[Float] = {
    val w = im.getWidth; val h = im.getHeight
    val feat = new Array[Float](dim)
    var r = 0
    while (r < g) {
      val y0 = r * h / g
      val y1 = math.min(h, math.max((r + 1) * h / g, y0 + 1))
      var c = 0
      while (c < g) {
        val x0 = c * w / g
        val x1 = math.min(w, math.max((c + 1) * w / g, x0 + 1))
        val bw = x1 - x0; val bh = y1 - y0
        val px = im.getRGB(x0, y0, bw, bh, null, 0, bw)
        var sum = 0.0
        var i = 0
        while (i < px.length) {
          val rgb = px(i)
          sum += (0.299 * ((rgb >> 16) & 0xFF) +
            0.587 * ((rgb >> 8) & 0xFF) +
            0.114 * (rgb & 0xFF)) / 255.0
          i += 1
        }
        feat(r * g + c) = if (px.length > 0) (sum / px.length).toFloat else 0f
        c += 1
      }
      r += 1
    }
    feat.toSeq
  }

  /** Classpath caveat (ADVICE r19): decode dispatch takes the FIRST
    * `javax.imageio` reader claiming the stream, so the emitted
    * vectors assume a HOMOGENEOUS executor classpath — a plugin
    * registering an alternative JPEG reader (e.g. TwelveMonkeys) on
    * some executors would change which bytes decode and how, and the
    * "deterministic, replayable vectors" contract then only holds
    * within one deployment. Mixed-executor clusters or upgrades that
    * add imageio plugins must re-extract stored feature vectors (the
    * store-property snapshot-drift discipline applies: version the extractor
    * alongside any index built over its output).
    */
  def imageBlockLuma(dim: Int = 64): Array[Byte] => Seq[Float] = {
    val g = math.sqrt(dim.toDouble).toInt
    // g >= 1, not just a perfect square (review r19): dim = 0 passes
    // 0*0 == 0, silently emitting empty vectors for decodable images
    // and dividing by zero in the byte fallback's chunk computation
    require(g >= 1 && g * g == dim,
      s"imageBlockLuma: dim must be a positive perfect square " +
        s"(a g x g grid), got $dim")
    val fallback = byteChunkMeans(dim)
    bytes => {
      val decoded: Option[java.awt.image.BufferedImage] =
        if (bytes == null || bytes.isEmpty) None
        else {
          // an in-memory stream, NEVER ImageIO's default disk cache
          // (review r19: ImageIO.read(InputStream) wraps a
          // ByteArrayInputStream in a FileCacheImageInputStream by
          // default — one executor temp-file create/write/delete per
          // asset row in the hot decode path); header-only dimension
          // read gates the full decode behind MaxDecodePixels.
          // NonFatal only: an OOM or VM error must propagate, not be
          // mistaken for "not an image".
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext) None
            else {
              val reader = readers.next()
              try {
                reader.setInput(iis)
                val w = reader.getWidth(0); val h = reader.getHeight(0)
                if (w <= 0 || h <= 0 || w.toLong * h > MaxDecodePixels) None
                else Option(reader.read(0))
              } catch {
                case scala.util.control.NonFatal(_) => None
              } finally reader.dispose()
            }
          } catch {
            case scala.util.control.NonFatal(_) => None
          } finally {
            try iis.close()
            catch { case scala.util.control.NonFatal(_) => () }
          }
        }
      decoded match {
        case Some(im) if im.getWidth > 0 && im.getHeight > 0 =>
          blockLuma(im, g, dim)
        case _ => fallback(bytes)
      }
    }
  }

  /** DEFAULT perceptual features: the real image decoder through the
    * swap slot. The oracled query entries keep the deterministic fake
    * (its SQL replay is the point of the oracle); a production caller
    * with actual image bytes gets real pixels by default.
    */
  def perceptualFeatures(assets: DataFrame, dim: Int = 64): DataFrame =
    perceptualFeaturesWith(assets, imageBlockLuma(dim))

  /** splitmix64 finalizer — the library-free deterministic hash the
    * image fixtures derive pixels from (no `Random` state, so a tile
    * value is a pure function of (seed, tile)). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One deterministic fixture image: 96×96, 8×8 blocky BIMODAL
    * grayscale tiles (the MultimodalSpec pairing pattern) — tile
    * structure survives JPEG, and values sit far from the global mean
    * so a lossy re-encode's few-gray-level shifts cannot flip
    * [[perceptualHashPairs]]' mean-threshold bits.
    */
  private[graft] def drawTiled(seed: Long): java.awt.image.BufferedImage = {
    val im = new java.awt.image.BufferedImage(96, 96,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var ty = 0
    while (ty < 8) {
      var tx = 0
      while (tx < 8) {
        val h = mix64(seed * 64 + ty * 8 + tx)
        val base = if ((h & 1L) == 0L) 215 else 10
        val v = base + (((h >>> 1) % 30).toInt)
        val rgb = (v << 16) | (v << 8) | v
        var y = ty * 12
        while (y < (ty + 1) * 12) {
          var x = tx * 12
          while (x < (tx + 1) * 12) { im.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        tx += 1
      }
      ty += 1
    }
    im
  }

  /** Encode through an explicit in-memory stream — NEVER
    * `ImageIO.write(im, fmt, OutputStream)`, which wraps the target
    * in a FileCacheImageOutputStream by default (the decode path's
    * r19 finding, on the write side: one executor temp-file
    * create/write/delete per generated row). */
  private def encodeImage(im: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = {
    val writers = javax.imageio.ImageIO.getImageWritersByFormatName(fmt)
    require(writers.hasNext, s"no '$fmt' image writer in this JVM")
    val writer = writers.next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(im)
      ios.flush()
    } finally {
      writer.dispose()
      try ios.close()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    bos.toByteArray
  }

  /** REAL-codec image fixtures (r20, the r19 verdict's #2 — the
    * driver-gate feed for the decoded feature entries): per id a
    * [[drawTiled]] image run through the JVM's OWN PNG or JPEG
    * encoder — id % 3 == 0 → PNG, 1 → JPEG of the SAME pixels
    * (seed = id / 3, so every PNG has a visually-identical JPEG
    * re-encode sibling one id up: the cross-codec pair only a real
    * pixel decoder can match), 2 → the doc's raw text bytes, which NO
    * reader accepts, exercising the [[byteChunkMeans]] fallback
    * inside the same mixed asset table (a crawl's corrupt-row
    * posture). Encodes are deterministic (probed: the JDK PNG/JPEG
    * writers are byte-stable for fixed pixels), so the per-asset
    * vectors replay run-over-run — the dump-and-replay contract the
    * mm_features_decoded oracle needs.
    */
  def syntheticImageAssets(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val gen = udf { (id: Long, text: String) =>
      (id % 3) match {
        case 0L => ("png", encodeImage(drawTiled(id / 3), "png"))
        case 1L => ("jpg", encodeImage(drawTiled(id / 3), "jpg"))
        case _ =>
          ("raw", Option(text).getOrElse("").getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    docs
      .select(col(idCol).cast("long").as("asset_id"),
        gen(col(idCol).cast("long"), col(textCol)).as("__g"))
      .select(col("asset_id"), col("__g._1").as("codec"),
        col("__g._2").as("content"))
  }

  /** Perceptual-hash NEAR-duplicate pairs over feature vectors — the
    * media-dedup recipe (pHash's structure: threshold each
    * coefficient against the vector's OWN mean → a dim-bit
    * fingerprint; near-identical media differ in ≤ maxHamming bits).
    * Returns (id_a, id_b, hamming) with id_a < id_b.
    *
    * Why not the sign-LSH cosine machinery the text embeddings use:
    * decoded media features live in the POSITIVE orthant, where
    * random-hyperplane signs collapse into a handful of buckets and
    * raw cosines crowd toward 1 (measured on the stub features at
    * sf0.01: cosine ≥ 0.9 covers 99.8% of ALL pairs) — banding would
    * degenerate toward all-pairs. Thresholding against the row's own
    * mean recenters per row with ZERO data-dependent global state (a
    * corpus mean would make band keys depend on float sum order), and
    * the all-integer fingerprint math replays bit-exactly in any
    * engine.
    *
    * The fingerprint is carried as maxHamming+1 per-band longs of
    * dim/(maxHamming+1) bits (not one dim-bit word): band keys need
    * no shift/mask, and no engine has to reason about the sign bit of
    * a 64-bit fingerprint.
    *
    * Scale shape: the fingerprint computes at the scan (one
    * tight-loop scalar UDF per row); candidates come from the banded
    * equi-join,
    * and any pair within the radius shares ≥1 full band by pigeonhole
    * (FULL recall — which is why the DuckDB oracle may verify by
    * brute force); the exact bit_count verify prunes before the
    * distinct. Identical assets collide at hamming 0, so the pair
    * list is the duplicate-GROUP edge list, as in simHashPairs.
    *
    * DEGENERATE rows are excluded: a CONSTANT feature vector (empty
    * or uniform media — no coefficient exceeds its own mean; also the
    * null-content fallback) fingerprints to all-zero bands, so every
    * such asset would land in one shared (band, 0) bucket and pair at
    * hamming 0 with every other — a quadratic clique declaring an
    * empty file and a solid-gray image "near-duplicates". pHash is
    * undefined on structureless input; those assets carry no
    * perceptual signal to match on, and BYTE-identical empties are
    * the exact-dedup path's job (content md5), not this one's. The
    * filter is on the fingerprint itself (all bands zero ⟺ constant
    * vector), so the oracle replays it as sig0+…+sigN > 0.
    */
  def perceptualHashPairs(feats: DataFrame, idCol: String, vecCol: String,
      dim: Int, maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    val width = dim / bands
    require(dim >= bands && dim % bands == 0 && width <= 62,
      s"dim must be a multiple of maxHamming+1 with bands of <=62 bits, got $dim")
    // ONE tight-loop UDF per row (the nearestCentroidUdf precedent:
    // the equivalent declarative form — a dim-term mean column read
    // by dim threshold terms — gets inlined by CollapseProject into
    // ~dim² copies of the upstream feature expression and measured
    // 33 s vs sub-second at sf0.01). The mean is the same LEFT-ASSOC
    // double chain the oracle replays term-by-term; bits are exact
    // integer ops.
    val sigsUdf = udf { (f: Seq[Float]) =>
      if (f == null) Seq.fill(bands)(0L)
      else {
        var sum = 0.0
        var i = 0
        while (i < dim) { sum += f(i).toDouble; i += 1 }
        val mean = sum / dim
        (0 until bands).map { b =>
          var sig = 0L
          var j = 0
          while (j < width) {
            if (f(b * width + j).toDouble > mean) sig |= (1L << j)
            j += 1
          }
          sig
        }
      }
    }
    // persisted (the minHashLshPairs contract): the (id, sigs) frame
    // is read by BOTH sides of the banded self-join, and the upstream
    // feature chain — for the decoded entries a full image decode per
    // row — would otherwise evaluate once per side (r20: measured 2x
    // the decode wall on mm_neardup_decoded). The evalOnce fence pins
    // the sig UDF to one evaluation against the degenerate-row
    // filter's pushdown (the minHashSigOf shingle trap).
    val withSig = feats
      .select(col(idCol).as("id"), graft.functions.GraftFunctions.evalOnce(
        sigsUdf(col(vecCol))).as("sigs"))
      // degenerate-row guard (see scaladoc): constant vectors hash to
      // all-zero bands and would form one quadratic hamming-0 clique
      .filter(exists(col("sigs"), _ =!= lit(0L)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = withSig.select(col("id"), col("sigs"),
      posexplode(col("sigs")).as(Seq("band", "k")))
    val a = banded.select(col("band"), col("k"),
      col("id").as("id_a"), col("sigs").as("sigs_a"))
    val b = banded.select(col("band"), col("k"),
      col("id").as("id_b"), col("sigs").as("sigs_b"))
    val hamming = (0 until bands).map(i =>
      bit_count(element_at(col("sigs_a"), i + 1)
        .bitwiseXOR(element_at(col("sigs_b"), i + 1)))).reduce(_ + _)
    a.join(b, Seq("band", "k"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      // verify BEFORE distinct (the simHashPairs discipline): hamming
      // is deterministic per pair, so the dedup shuffle only carries
      // surviving pairs
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
