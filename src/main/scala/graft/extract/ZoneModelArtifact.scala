package graft.extract

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/**
 * Shipping story for the trained stage-1 zone model (the reference's E3
 * trainer lifecycle, `DatacatSegmenterTrainer.java:48-57`, produces a model
 * FILE that inference loads — `resources/models/datacat-segmenter/model
 * .wapiti`; this is the Spark-native analog): [[ZoneModel.train]]'s output
 * is just a small table of per-feature log-likelihood deltas plus label
 * priors, serialized as one deterministic TSV under
 * `src/main/resources/graft/zone_model/model.tsv` and re-hydrated into a
 * broadcastable DataFrame at session start.
 *
 * Format (tab-separated, sorted by feature for reproducible bytes):
 * {{{
 * #labels  <l0>  <l1> ...
 * #priors  <p0>  <p1> ...
 * <feature>  <w0>  <w1> ...
 * }}}
 * Doubles round-trip through `java.lang.Double.toString`/`parseDouble`
 * exactly. The artifact is produced at build/test time by
 * `sbt "Test/runMain graft.TrainZoneModel"` (test scope — training reads
 * the reference gold corpus via the test fixtures loader) and committed.
 * It is the default `stage1` of the document-mode functions
 * ([[Pipeline.extractDocuments]], [[Pipeline.documentBodyLines]],
 * [[Pipeline.extractDocumentsChunked]]); when the resource is absent,
 * [[load]] gives `None` and they run the heuristic stage-1.
 */
object ZoneModelArtifact {

  val resource = "/graft/zone_model/model.tsv"

  private final case class Parsed(labels: Seq[String], priors: Map[String, Double],
      rows: Seq[(String, Array[Double])])

  // parse once per classloader; the tiny weights DataFrame is rebuilt (and
  // cached) per SparkSession below
  private lazy val parsed: Option[Parsed] = {
    val in = getClass.getResourceAsStream(resource)
    if (in == null) None
    else {
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      try {
        val labelLine = r.readLine()
        val priorLine = r.readLine()
        require(labelLine != null && labelLine.startsWith("#labels\t") &&
          priorLine != null && priorLine.startsWith("#priors\t"),
          s"malformed zone model artifact $resource")
        val labels = labelLine.split("\t", -1).toSeq.tail
        val priors = labels.zip(
          priorLine.split("\t", -1).toSeq.tail.map(java.lang.Double.parseDouble)).toMap
        val rows = Iterator.continually(r.readLine()).takeWhile(_ != null).map { l =>
          val parts = l.split("\t", -1)
          require(parts.length == labels.length + 1,
            s"zone model row has ${parts.length} fields, expected ${labels.length + 1}")
          (parts(0), parts.tail.map(java.lang.Double.parseDouble))
        }.toVector
        Some(Parsed(labels, priors, rows))
      } finally r.close()
    }
  }

  private val bySession =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Option[ZoneModel.Model]]

  /** The shipped model for this session, if the artifact resource exists.
   * The weights frame is a local relation (no file scan); [[ZoneModel.apply]]
   * broadcasts it, so inference adds no exchange. */
  def load(spark: SparkSession): Option[ZoneModel.Model] =
    bySession.computeIfAbsent(spark, s => parsed.map { p =>
      val schema = StructType(StructField("f", StringType) +:
        p.labels.indices.map(i => StructField(s"w_$i", DoubleType)))
      val rows = p.rows.map(r => Row.fromSeq(r._1 +: r._2.toSeq))
      val weights = s.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        schema)
      ZoneModel.Model(weights, p.priors, p.labels)
    })

  /** Serialize a trained model to `file` in the artifact format (driver-side
   * collect of the SMALL weights table; deterministic row order). */
  def save(model: ZoneModel.Model, file: Path): Unit = {
    val sb = new StringBuilder
    sb.append("#labels\t").append(model.labels.mkString("\t")).append('\n')
    sb.append("#priors\t")
      .append(model.labels.map(l => model.priors(l).toString).mkString("\t"))
      .append('\n')
    val wCols = model.labels.indices.map(i => s"w_$i")
    val rows = model.weights.select("f", wCols: _*).collect()
      .map(r => (r.getString(0), wCols.indices.map(i => r.getDouble(i + 1))))
      .sortBy(_._1)
    rows.foreach { case (f, ws) =>
      require(!f.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"feature contains a separator char: ${f.take(40)}")
      sb.append(f)
      ws.foreach(w => sb.append('\t').append(w.toString))
      sb.append('\n')
    }
    Files.createDirectories(file.getParent)
    Files.write(file, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
