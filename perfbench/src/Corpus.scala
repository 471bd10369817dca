package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{QuerySpec, Tables}

/** The corpus workload: the SharedStages build, then dedup / ANN registry
  * entries over the read-only harness tables at sf0.01. One op is one
  * query, fully materialized through the `noop` sink. The seed only
  * permutes the op order of each pass; the SharedStages build stays first
  * so its consumers find the memo. */
final class CorpusWorkload(seed: Long, data: Path) extends Workload {
  import CorpusWorkload._

  val name = "corpus"
  private val dir = data.resolve("sf0.01").toString
  private val byName = (SharedStageBuild +: specs).map(q => q.name -> q).toMap
  private lazy val expected: Map[String, String] = Digests.load(data.resolve("digests.json"))
  private val checked = scala.collection.mutable.Set.empty[String]

  /** Resolves the two tables through `Tables`, which memoizes each analyzed
    * reader plan per session. */
  def register(spark: SparkSession): Unit = {
    Tables.documents(spark, dir)
    Tables.embeddings(spark, dir)
  }

  def passOps(pass: Int): Seq[String] =
    SharedStageBuild.name +: new scala.util.Random(seed * 1000003L + pass).shuffle(Ops)

  def run(spark: SparkSession, op: String, opId: String, spans: Spans): Any = {
    val df = spans("build", opId)(byName(op).run(spark, dir))
    spans("execute", opId)(df.write.format("noop").mode("overwrite").save())
    df
  }

  /** One item per completed query. */
  def items(value: Any): Long = 1L

  /** Each op's result is checked once per run, the first time it runs. */
  def check(spark: SparkSession, op: String, value: Any): Option[String] =
    if (!checked.add(op)) None
    else {
      val got = Digests.of(value.asInstanceOf[DataFrame])
      expected.get(op) match {
        case None => Some("no stored digest")
        case Some(want) if want != got => Some(s"digest $got != stored $want")
        case _ => None
      }
    }
}

object CorpusWorkload {
  /** The SharedStages build as `graft.Bench` times it (x0_shared_stage_build):
    * reset, then build the clean corpus and the near-dup pair memo. */
  val SharedStageBuild: QuerySpec = QuerySpec("x0_shared_stage_build", (s, dir) => {
    graft.ops.SharedStages.reset()
    graft.ops.SharedStages.cleanDeduped(s, dir)
    graft.ops.SharedStages.docNearDupPairs(s, dir)
  }, None)

  /** After the SharedStages build: two of its memo consumers (x2, x22), the
    * IvfPqIndex save/load lifecycle (x70, overlapped on IvfPqIndex's own
    * thread pools), the entry with the most `localCheckpoint` pins (x217: 4)
    * and the weighted MinHash (x238), whose two inputs are built side by
    * side through `graft.Par.par2` and which pins four `localCheckpoint`s.
    * The other 66 dedup / ANN entries do not fit the run budget. */
  val Ops: Seq[String] = Seq(
    "x2_dedup_minhash", "x22_clean_corpus", "x70_ivfpq_index_roundtrip", "x217_grid_dbscan",
    "x238_icws_weighted_minhash")

  def specs: Seq[QuerySpec] = {
    val all = (graft.ops.ExtensionDedupQueries.all ++ graft.ops.ExtensionAnnQueries.all)
      .map(q => q.name -> q).toMap
    Ops.map(all)
  }
}

/** Canonical result digests: rows rendered value by value (doubles to 10
  * significant digits, binaries as hex, maps with sorted keys), sorted, and
  * hashed with the schema. */
object Digests {
  def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => hex(b)
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.10g".format(d)
    case f: Float => if (f.isNaN || f.isInfinite) f.toString else "%.6g".format(f)
    case t: java.sql.Timestamp => s"ts${t.getTime / 1000}.${t.getNanos}"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(df: DataFrame): String = {
    val rows = df.collect().map(render).sorted
    sha256(df.schema.simpleString + "\n" + rows.mkString("\n"))
  }

  def sha256(s: String): String =
    hex(java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))

  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** Reads `{"name": {"digest": "...", "source": "..."}, ...}`. */
  def load(p: Path): Map[String, String] = {
    val entry = "\"([^\"]+)\"\\s*:\\s*\\{\\s*\"digest\"\\s*:\\s*\"([0-9a-f]+)\"".r
    entry.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2)).toMap
  }
}

/** Writes the digests of every corpus op:
  * `perfbench.RecordDigests <data dir> <work dir> <out.json> [oracle names file]`.
  * Entries named in the oracle file are marked `oracle` (their results
  * were checked against DuckDB); the rest are marked `head`. */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val Array(data, work, out) = args.take(3)
    val oracle = args.lift(3).map(f => Files.readString(Paths.get(f))
      .split("\\s+").filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val spark = Main.session(Paths.get(work).toAbsolutePath)
    val dir = Paths.get(data).resolve("sf0.01").toString
    val lines = (CorpusWorkload.SharedStageBuild +: CorpusWorkload.specs).map { q =>
      val d = Digests.of(q.run(spark, dir))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      s"""  "${q.name}": {"digest": "$d", "source": "${if (oracle(q.name)) "oracle" else "head"}"}"""
    }
    Files.writeString(Paths.get(out), lines.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
