package perfbench

import java.nio.file.{Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** The reference outputs the checks compare against, one tab-separated
  * record a line:
  *
  *   corpus  <seed>  <sha256 of events.csv then results.csv>
  *   model   <cores> <seed> <rf|lr|gbt|mlp> <accuracy> <auc> <precision> <recall> <f1>
  *   gate    <name>  <rows> <order-insensitive digest>
  *
  * Model scores depend on how the data is partitioned, so they are keyed
  * by core count.
  */
final class Recorded(path: Path, cores: Int) {
  private val lines: Seq[Array[String]] =
    if (!Files.exists(path)) Nil
    else Files.readAllLines(path).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t"))

  private val corpora = lines.collect { case Array("corpus", s, d) => s.toLong -> d }.toMap
  private val models = lines.collect { case Array("model", c, s, k, v @ _*) =>
    (c.toInt, s.toLong, k) -> v.map(_.toDouble)
  }.toMap

  /** name -> (rows, digest) */
  val gates: Map[String, (Long, String)] = lines.collect {
    case Array("gate", n, rows, digest) => n -> ((rows.toLong, digest))
  }.toMap

  def corpusDigest(seed: Long): Option[String] = corpora.get(seed)
  def model(seed: Long, key: String): Option[Seq[Double]] = models.get((cores, seed, key))

  def append(records: Seq[String]): Unit =
    Files.write(path, records.map(_ + "\n").mkString.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
}
