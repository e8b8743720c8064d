package graft.images

import graft.io.Sinks
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end image pipelines (reference entry points A and B, SURVEY.md §3):
  * tiling with caption sidecars, the compatibility filter → auto-crop
  * two-stage prep, and batch format conversion.
  *
  * Spark-first shape: one `binaryFile` scan per pipeline; dims come from a
  * header-only UDF (no pixel decode until a kernel needs pixels); grid
  * geometry is pure column arithmetic (Geometry); only cropEncode touches
  * pixels. Filters route rows to multiple outputs from one cached lineage —
  * the reference's `shutil.move` mutation becomes side-effect-free writes
  * (`/root/reference/modules/filter_crop.py:49-63` → two filtered writes).
  */
object Tiling {

  /** Tiling parameters (reference UI inputs, `start_app.py:25-34`).
    * format "None" defaults to png (`modules/tiling.py:32-33`). */
  final case class TileParams(
      tileSize: Int = 512,
      overlap: Double = 0.0,
      padding: Int = 0,
      numTiles: Int = 0,
      padOption: String = "none", // none | auto | extend | square
      format: String = "None",
      quality: Int = 85,
      caption: String = "")

  /** Scan-accepted extensions: the union of what javax.imageio decodes
    * in this offline JVM and the reference's scan list
    * (`modules/tiling.py:87`: png/jpg/jpeg/heic/cr2/nef/arw/dng, matched
    * case-insensitively there). HEIC and WebP get header-only dims via
    * [[HeaderDims]] (the F5 projection); their PIXEL decode — like RAW's
    * — needs decoders absent offline, so those rows quarantine at the
    * decode step exactly as the reference does without
    * pillow-heif/imageio (`batch_processor.py:12-22`). */
  val SupportedGlob =
    "*.{png,jpg,jpeg,gif,bmp,tiff,tif,wbmp,webp,heic,heif,cr2,nef,arw,dng," +
      "PNG,JPG,JPEG,WEBP,HEIC,CR2,NEF,ARW,DNG}"

  /** S1: image-folder scan — listing-time extension pruning, lazy bytes. */
  def scanImages(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", SupportedGlob)
      .load(dir)

  private def stem(path: Column): Column =
    regexp_extract(path, "([^/]+)\\.[^.]+$", 1)

  /** F5: attach header-only dims; undecodable rows → quarantine (null dims
    * filtered by callers via `decoded`). */
  def withDims(df: DataFrame): DataFrame =
    df.withColumn("dims", ImageCodec.imageDims(col("content")))
      .withColumn("width", col("dims._1"))
      .withColumn("height", col("dims._2"))
      .withColumn("decoded", col("dims").isNotNull)
      .drop("dims")

  /** G1-G5: the tile generator as a DataFrame transform.
    * Input: scanImages output. Output: one row per tile with encoded bytes
    * and the reference's `{stem}_tile_{i}_{j}.{ext}` name. */
  def tiles(images: DataFrame, p: TileParams): DataFrame = {
    // Reference format_mapping (`tiling.py:32-33`): JPG→JPEG encoder with a
    // .jpg extension; PNG, NONE, and ANY unrecognized format (even "JPEG",
    // "webp", "heic") fall back to PNG — mirrored exactly, so an unsupported
    // format yields PNG tiles instead of null-data rows that get dropped.
    val ext =
      if (p.format.toUpperCase(java.util.Locale.ROOT) == "JPG") "jpg" else "png"
    val base = withDims(images).filter(col("decoded"))
    // G5 per-image tile-size override: min(W,H) // int(sqrt(num_tiles))
    val tileC =
      if (p.numTiles > 0)
        least(col("width"), col("height"))
          .divide(math.sqrt(p.numTiles).toInt).cast("long")
      else lit(p.tileSize.toLong)
    // step = tile - int(overlap * tile), Python truncation
    val stepC = (tileC - (tileC * p.overlap).cast("long")).cast("long")
    val auto = p.padOption == "auto"
    base
      .withColumn("tile_size", tileC)
      .withColumn("step", stepC)
      .select(col("path"), col("width"), col("height"), col("content"),
        col("tile_size"),
        explode(Geometry.gridBoxesDyn(col("width"), col("height"),
          col("tile_size"), col("step"), lit(p.padding), autoAdjust = auto)).as("b"))
      .select(col("path"), col("width"), col("height"),
        col("b.i").as("i"), col("b.j").as("j"),
        col("b.left").as("left"), col("b.upper").as("upper"),
        col("b.right").as("right"), col("b.lower").as("lower"),
        format_string("%s_tile_%d_%d." + ext, stem(col("path")), col("b.i"), col("b.j"))
          .as("file_name"),
        ImageCodec.cropEncode(col("content"),
          col("b.left").cast("int"), col("b.upper").cast("int"),
          col("b.right").cast("int"), col("b.lower").cast("int"),
          col("tile_size").cast("int"), lit(p.padOption), lit(ext), lit(p.quality))
          .as("data"))
      .withColumn("caption", lit(p.caption))
  }

  /** K1/K2 write action: tiles + caption sidecars into an empty folder.
    * Runs under a cancellable job group (C1): `graft.Jobs.cancel(spark,
    * jobGroup)` from any thread aborts the in-flight tiling — the
    * reference's stop_process() for its flagship long-running job
    * (`modules/utils.py:4-9`, polled at `tiling.py` loop boundaries).
    * Pass an explicit `jobGroup` to cancel THIS run; the default is
    * unique per invocation (cancellation is by group name cluster-wide,
    * so a shared default would let one run's cancel kill another's). */
  def writeTiles(spark: SparkSession, inDir: String, outDir: String,
                 p: TileParams, jobGroup: String = ""): Long =
    graft.Jobs.runCancellable(spark,
      if (jobGroup.nonEmpty) jobGroup else graft.Jobs.uniqueGroup("graft-tiling"),
      s"tile $inDir -> $outDir") {
      Sinks.requireEmptyDir(outDir)
      val t = tiles(scanImages(spark, inDir), p).cache()
      try {
        val ok = t.filter(col("data").isNotNull)
        val n = ok.count()
        Sinks.writeFilePerRow(ok, outDir)
        if (p.caption.trim.nonEmpty)
          Sinks.writeTextPerRow(
            ok.withColumn("sidecar",
              regexp_replace(col("file_name"), "\\.[^.]+$", ".txt")),
            outDir, fileCol = "sidecar", textCol = "caption")
        n
      } finally { t.unpersist(); () }
    }

  /** F2 + M3: split one scan into compatible / incompatible, with
    * recommended center-crop dims and the advice text (M4) attached to the
    * incompatible rows. One lineage, no input mutation. */
  def compatibility(images: DataFrame, tile: Int, overlap: Double): DataFrame = {
    val s = Geometry.step(tile, overlap)
    withDims(images).filter(col("decoded"))
      .withColumn("incompatible",
        col("width") < tile || col("height") < tile ||
        (col("width") - tile) % s =!= 0 || (col("height") - tile) % s =!= 0)
      .withColumn("rec_w", Geometry.recommendedCrop(col("width"), col("height"), tile, s))
      .withColumn("rec_h", Geometry.recommendedCrop(col("height"), col("width"), tile, s))
      .withColumn("advice", concat(
        lit("Recommended crop size: "), col("rec_w"), lit(" x "), col("rec_h"),
        lit("\nCrop from the center to keep the subject.\nThen re-run the compatibility filter.")))
  }

  /** Entry point B as one job: compatible rows pass through untouched,
    * incompatible rows are center-cropped to the recommended dims (M2) and
    * written next to their advice files. */
  def prepareImages(spark: SparkSession, inDir: String, outDir: String,
                    tile: Int, overlap: Double, fmt: String = "png"): (Long, Long) = {
    Sinks.requireEmptyDir(outDir)
    val c = compatibility(scanImages(spark, inDir), tile, overlap).cache()
    try {
      val good = c.filter(!col("incompatible"))
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"), col("content").as("data"))
      val cropped = c.filter(col("incompatible"))
        .withColumn("crop_left", ((col("width") - col("rec_w")) / 2).cast("int"))
        .withColumn("crop_top", ((col("height") - col("rec_h")) / 2).cast("int"))
        .select(
          format_string("%s_cropped." + fmt, stem(col("path"))).as("file_name"),
          ImageCodec.cropEncode(col("content"),
            col("crop_left"), col("crop_top"),
            (col("crop_left") + col("rec_w")).cast("int"),
            (col("crop_top") + col("rec_h")).cast("int"),
            col("rec_w").cast("int"), lit("none"), lit(fmt), lit(85)).as("data"))
      val advice = c.filter(col("incompatible"))
        .select(format_string("%s.txt", stem(col("path"))).as("file_name"),
          col("advice").as("text"))
      Sinks.writeFilePerRow(good, outDir)
      Sinks.writeFilePerRow(cropped, outDir)
      Sinks.writeTextPerRow(advice, outDir, fileCol = "file_name", textCol = "text")
      (c.filter(!col("incompatible")).count(), c.filter(col("incompatible")).count())
    } finally { c.unpersist(); () }
  }

  /** M1: batch format conversion (reference other_tasks.py:28-67). */
  def convertImages(spark: SparkSession, inDir: String, outDir: String,
                    toFmt: String, quality: Int = 85): Long = {
    Sinks.requireEmptyDir(outDir)
    val ext = toFmt.toLowerCase(java.util.Locale.ROOT)
    val out = scanImages(spark, inDir)
      .select(format_string("%s." + ext, stem(col("path"))).as("file_name"),
        ImageCodec.transcode(col("content"), lit(ext), lit(quality)).as("data"))
      .cache()
    try {
      Sinks.writeFilePerRow(out, outDir)
      out.filter(col("data").isNotNull).count()
    } finally { out.unpersist(); () }
  }
}
