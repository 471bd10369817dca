package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.Pipeline
import graft.ops.{Augment, Kernels}
import graft.ops.Augment.ImageEx
import graft.ops.Kernels.Box
import graft.sources.{DicomDecode, LabelMap, TFRecordIO, TFRecordSink}

/** The paper's workload: seeded synthetic 8-bit DICOM frames plus an RSNA
  * stage-1 labels CSV, then one op = `DicomDecode.scanDicomDir` →
  * `Pipeline.runEndToEnd` (default 256 train / 32 val shards).
  *
  * The seed picks patient ids, pixel noise, which patients are positive and
  * where their 1–4 boxes sit. Ids are drawn until the program's 80/20 hash
  * split puts exactly `TrainPatients` in train, so every seed does the same
  * amount of work. The first box of each positive patient hugs an image
  * edge, so shifts push boxes out and `annotations_skipped` is non-zero. */
final class RsnaWorkload(seed: Long, work: Path) extends Workload {
  import RsnaWorkload._

  val name = "rsna_pipeline"
  private val dicomDir = work.resolve("dicom")
  private val labelsCsv = work.resolve("stage_1_train_labels.csv")
  private val outDir = work.resolve("out").toString
  /** Patient id → (boxes, in train). */
  private val patients = mutable.LinkedHashMap.empty[String, (Seq[Box], Boolean)]
  private var deepChecked = false

  override def prepare(): Unit = {
    val rng = new scala.util.Random(seed)
    def uuid(): String = f"${rng.nextInt()}%08x-${rng.nextInt(1 << 16)}%04x-${rng.nextInt(1 << 16)}%04x-" +
      f"${rng.nextInt(1 << 16)}%04x-${rng.nextLong() & 0xFFFFFFFFFFFFL}%012x"
    val train = mutable.ArrayBuffer.empty[String]; val valid = mutable.ArrayBuffer.empty[String]
    while (train.size < TrainPatients || valid.size < ValPatients) {
      val id = uuid()
      if (inTrain(id)) { if (train.size < TrainPatients) train += id }
      else if (valid.size < ValPatients) valid += id
    }
    val positive = rng.shuffle(train.toSeq).take(TrainPositives).toSet ++
      rng.shuffle(valid.toSeq).take(ValPositives)
    (train ++ valid).foreach { id =>
      val boxes = if (positive(id)) randomBoxes(rng) else Nil
      patients(id) = (boxes, train.contains(id))
    }
    Files.createDirectories(dicomDir)
    val csv = new StringBuilder("patientId,x,y,width,height,Target\n")
    rng.shuffle(patients.toSeq).foreach { case (id, (boxes, _)) =>
      if (boxes.isEmpty) csv ++= s"$id,,,,,0\n"
      else boxes.foreach(b => csv ++= s"$id,${b.x}.0,${b.y}.0,${b.w}.0,${b.h}.0,1\n")
      Files.write(dicomDir.resolve(s"$id.dcm"),
        DicomDecode.writeMinimal(Size, Size, frame(rng), 8))
    }
    Files.writeString(labelsCsv, csv.toString)
  }

  /** A smooth chest-film-like gradient with seeded noise. */
  private def frame(rng: scala.util.Random): Array[Short] = {
    val px = new Array[Short](Size * Size)
    val c = Size / 2.0
    var i = 0
    while (i < px.length) {
      val x = i % Size - c; val y = i / Size - c
      val r = math.sqrt(x * x + y * y) / c
      px(i) = math.max(0, math.min(255, (200 - 120 * r + rng.nextInt(25) - 12).toInt)).toShort
      i += 1
    }
    px
  }

  private def randomBoxes(rng: scala.util.Random): Seq[Box] = {
    val n = 1 + rng.nextInt(4)
    (0 until n).map { k =>
      val w = Size / 8 + rng.nextInt(Size / 6); val h = Size / 8 + rng.nextInt(Size / 5)
      if (k == 0) { // hugging the left or right edge
        val x = if (rng.nextBoolean()) rng.nextInt(4) else Size - w - rng.nextInt(4)
        Box(x, Size / 8 + rng.nextInt(Size / 2), w, h)
      } else Box(Size / 8 + rng.nextInt(Size / 2), Size / 8 + rng.nextInt(Size / 2), w, h)
    }
  }

  def register(spark: SparkSession): Unit = ()
  def passOps(pass: Int): Seq[String] = Seq("end_to_end")

  def run(spark: SparkSession, op: String, opId: String, spans: Spans): Any =
    if (!spans.enabled) {
      val images = DicomDecode.scanDicomDir(spark, dicomDir.toString)
      Pipeline.runEndToEnd(spark, images, Pipeline.readLabels(spark, labelsCsv.toString), outDir)
    } else staged(spark, opId, spans)

  /** `Pipeline.runEndToEnd`'s stages in its order, each stage's output
    * cached and counted so that each span holds one layer. */
  private def staged(spark: SparkSession, opId: String, spans: Spans): (Long, Long, Long) = {
    val images = spans("dicom.decode", opId) {
      val d = DicomDecode.scanDicomDir(spark, dicomDir.toString).cache(); d.count(); d
    }
    val (train, valid) = spans("pipeline.maps", opId) {
      val maps = Pipeline.createMaps(Pipeline.readLabels(spark, labelsCsv.toString))
      val annotated = Pipeline.annotate(spark, images, maps).cache()
      annotated.count()
      Pipeline.hashSplit8020(annotated)
    }
    val augTrain = spans("augment.passes", opId) {
      val a = Augment.allPasses(train).cache(); lastRowsOut = a.count(); a
    }
    spans("pipeline.json_sinks", opId) {
      val (objects, captions) = Pipeline.annotationFrames(spark, augTrain)
      objects.coalesce(1).write.mode("overwrite").json(s"$outDir/object_annotation")
      captions.coalesce(1).write.mode("overwrite").json(s"$outDir/caption_annotation")
      val (valObjects, valCaptions) = Pipeline.annotationFrames(spark, valid)
      valObjects.coalesce(1).write.mode("overwrite").json(s"$outDir/validation_object_annotation")
      valCaptions.coalesce(1).write.mode("overwrite").json(s"$outDir/validation_caption_annotation")
    }
    val skipped = spark.sparkContext.longAccumulator("annotations_skipped")
    spans("tfrecord.sink", opId) {
      TFRecordSink.write(Pipeline.assembleExamples(augTrain, LabelMap.rsnaIndex, skipped),
        s"$outDir/tfrecords", "train", 256)
      val valFromFiles = Pipeline.readAnnotations(spark, s"$outDir/validation_object_annotation",
        s"$outDir/validation_caption_annotation", valid)
      TFRecordSink.write(Pipeline.assembleExamples(valFromFiles, LabelMap.rsnaIndex, skipped),
        s"$outDir/tfrecords", "val", 32)
    }
    lastSkipped = skipped.value.longValue
    (augTrain.count(), valid.count(), lastSkipped)
  }
  private var lastRowsOut = 0L
  private var lastSkipped = 0L

  def items(value: Any): Long = {
    val (t, v, _) = value.asInstanceOf[(Long, Long, Long)]
    t + v
  }

  private def expectedTrain: Long = patients.values.collect { case (boxes, true) =>
    (1 to 7).map(p => Augment.expectedFanout(p, boxes.nonEmpty)).sum.toLong
  }.sum
  private def expectedVal: Long = patients.values.count(!_._2).toLong

  def check(spark: SparkSession, op: String, value: Any): Option[String] = {
    val (t, v, _) = value.asInstanceOf[(Long, Long, Long)]
    if (t != expectedTrain || v != expectedVal)
      Some(s"counts train=$t val=$v, expected $expectedTrain/$expectedVal")
    else if (deepChecked) None
    else { deepChecked = true; deepCheck(spark) }
  }

  /** TFRecord read-back: counts, sha256 of every encoded image, and the
    * pixels of a seeded sample of examples against the `Augment` output. */
  private def deepCheck(spark: SparkSession): Option[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def examples(prefix: String) =
      TFRecordSink.readAll(s"$outDir/tfrecords", prefix).map(TFRecordIO.decodeExample).toVector
    val train = examples("train"); val valid = examples("val")
    if (train.size != expectedTrain) errs += s"train read-back ${train.size} != $expectedTrain"
    if (valid.size != expectedVal) errs += s"val read-back ${valid.size} != $expectedVal"
    def encoded(ex: Map[String, TFRecordIO.Feature]) = ex("image/encoded") match {
      case TFRecordIO.BytesFeature(Seq(b)) => b
      case other => throw new IllegalStateException(s"bad image/encoded $other")
    }
    (train ++ valid).foreach { ex =>
      val sha = Digests.hex(java.security.MessageDigest.getInstance("SHA-256").digest(encoded(ex)))
      if (!TFRecordIO.strOpt(ex, "image/key/sha256").contains(sha))
        errs += s"sha256 mismatch for ${TFRecordIO.strOpt(ex, "image/source_id")}"
    }
    val rng = new scala.util.Random(seed ^ 0x5eed)
    val sample = rng.shuffle(train).take(3)
    sample.foreach { ex =>
      val id = TFRecordIO.strOpt(ex, "image/source_id").get
      val want = augmented(spark, id)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(encoded(ex)))
      val got = img.getRaster.getPixels(0, 0, Size, Size, null: Array[Int])
      val clipped = want.map(p => math.min(255, math.max(0, p.toInt)))
      if (!java.util.Arrays.equals(got, clipped)) errs += s"pixels of $id differ from Augment output"
    }
    if (errs.isEmpty) None else Some(errs.take(5).mkString("; "))
  }

  /** `Augment.runPass` output for one example id `{patient}-{op}[-flipped]-{replica}-{pass}`. */
  private def augmented(spark: SparkSession, id: String): Array[Short] = {
    import spark.implicits._
    val patient = id.take(36)
    val pass = id.split("-").last.toInt
    val (boxes, _) = patients(patient)
    val px = DicomDecode.decode(Files.readAllBytes(dicomDir.resolve(s"$patient.dcm"))).pixels
    val sorted = boxes.sortBy(b => (b.x, b.y, b.w, b.h))
    val src = ImageEx(patient, px, Size, Size, sorted, if (boxes.nonEmpty) "1" else "0")
    Augment.runPass(spark.createDataset(Seq(src)), pass).filter(_.id == id).collect().head.pixels
  }

  /** Single-threaded timings of single calls into each image-path layer,
    * over a seeded sample of frames. */
  override def probe(spark: SparkSession, spans: Spans): Map[String, Double] = {
    val rng = new scala.util.Random(seed ^ 0xca11)
    val ids = rng.shuffle(patients.keys.toSeq).take(ProbeFrames)
    val t = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def time[A](k: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = spans(k, s"$name#probe#0")(f)
      t.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      a
    }
    var pngBytes = 0L; var pngs = 0
    for (round <- 0 until ProbeRounds; id <- ids) {
      val raw = Files.readAllBytes(dicomDir.resolve(s"$id.dcm"))
      val img = time("dicom.decode_ms")(DicomDecode.decode(raw))
      val px = img.pixels; val boxes = patients(id)._1
      val krng = new Kernels.Rng(Kernels.seedFor(id, round, 0))
      time("kernels.shift_image_ms")(Kernels.shiftImage(10, 10, px, Size, Size, boxes, krng))
      time("kernels.shift_bbox_ms")(Kernels.shiftBbox(50, 50, px, Size, Size, boxes, krng))
      time("kernels.scale_bbox_ms")(Kernels.scaleBbox(0.25, px, Size, Size, boxes, krng))
      time("kernels.scale_image_ms")(Kernels.scaleImage(0.0625, px, Size, Size, boxes, krng))
      time("kernels.flip_ms")(Kernels.flipImage(px, Size, Size, boxes))
      val png = time("png.encode_ms")(Pipeline.pngBytes(px, Size, Size))
      pngBytes += png.length; pngs += 1
      val sha = time("sha256.ms")(java.security.MessageDigest.getInstance("SHA-256").digest(png))
      import TFRecordIO.Feature._
      val rec = time("tfrecord.encode_ms")(TFRecordIO.encodeExample(Map(
        "image/height" -> int64(Size), "image/width" -> int64(Size),
        "image/source_id" -> str(id), "image/key/sha256" -> str(Digests.hex(sha)),
        "image/encoded" -> bytes(png), "image/format" -> str("png"),
        "image/object/bbox/xmin" -> floats(boxes.map(_.x.toFloat / Size)))))
      time("tfrecord.crc_ms")(TFRecordIO.maskedCrc32c(rec))
    }
    val shardBytes = Files.list(java.nio.file.Paths.get(s"$outDir/tfrecords")).iterator.asScala
      .map(Files.size).sum
    t.map { case (k, v) => k -> Main.median(v.toSeq) }.toMap ++ Map(
      "png.kb" -> pngBytes / 1024.0 / pngs,
      "tfrecord.mb" -> shardBytes / 1048576.0,
      "augment.rows_out" -> lastRowsOut.toDouble,
      "tfrecord.skipped_boxes" -> lastSkipped.toDouble)
  }
}

object RsnaWorkload {
  val Size = 512
  val TrainPatients = 4
  val ValPatients = 1
  val TrainPositives = 1
  val ValPositives = 0
  val ProbeFrames = 4
  val ProbeRounds = 2

  /** The program's 80/20 split rule (`Pipeline.hashSplit8020`):
    * `pmod(xxhash64(id), 100) < 80`. */
  def inTrain(id: String): Boolean = {
    val h = XxHash64Function.hash(UTF8String.fromString(id), StringType, 42L)
    java.lang.Math.floorMod(h, 100L) < 80
  }
}
