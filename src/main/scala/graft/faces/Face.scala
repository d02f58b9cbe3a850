package graft
package faces

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How the driver checks a face's rows. */
sealed trait Check

/** DuckDB SQL over the same tables whose rows must hash-match the face's. */
final case class Oracle(sql: String) extends Check

/** No DuckDB equivalent exists; `reason` says why and what checks the
  * face instead. The driver checks such a face's rows only for presence.
  */
final case class RowsOnly(reason: String) extends Check

/** One driver face: its name, how it builds its frame from a session
  * and a scale-factor directory, and how the driver checks it.
  *
  * `shufflePartitions` is the face's shuffle-partition count, applied
  * by [[run]] while the face builds. A stateful streaming query creates
  * one state-store instance per shuffle partition PER micro-batch
  * (checkpoint delta files included), so at calibration scale the
  * default 32 partitions cost more in store commits than in data; 8
  * keeps the operator exercised at a quarter of the fixed overhead.
  * The state partition count is pinned at a checkpoint's FIRST run,
  * and the stream faces start from a wiped checkpoint, so it always
  * takes.
  */
final case class Face(name: String, build: (SparkSession, String) => DataFrame,
                      check: Check, shufflePartitions: Option[Int] = None) {

  /** Builds the frame under the face's declared knobs, restoring the
    * session conf afterwards: the one place a face touches it.
    */
  def run(s: SparkSession, d: String): DataFrame = shufflePartitions match {
    case None => build(s, d)
    case Some(n) =>
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.get(key)
      s.conf.set(key, n.toString)
      try build(s, d) finally s.conf.set(key, prev)
  }
}

/** The registry: every driver face, declared once next to its oracle,
  * one file per family.
  */
private[graft] object Faces {
  val all: Seq[Face] =
    FxFaces.all ++ StreamFaces.all ++ SqlFaces.all ++ UrlFaces.all ++
      DedupFaces.all ++ SearchFaces.all ++ TextFaces.all ++ MultimodalFaces.all

  private val dups = all.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
  require(dups.isEmpty, s"duplicate face name(s): ${dups.toSeq.sorted.mkString(", ")}")
}
