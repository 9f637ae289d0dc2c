package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator query of the driver contract: `build` reads the driver
  * parquet tables under a directory, `oracleSql` is its DuckDB twin over
  * the same tables (column names aligned; the driver sorts columns by
  * name before hashing), and `scale` places it on Bench's scale ladder.
  * The name is also Verify's output directory, so it stays a plain
  * lower-case identifier. */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracleSql: String,
                       scale: Scale = Scale.Main) {
  require(name.matches("[a-z0-9_]+"), s"query name '$name' is not [a-z0-9_]+")
  require(oracleSql.trim.nonEmpty, s"query $name has an empty oracle")
}

object Query {

  /** The families' queries in order; a name defined twice throws (a map
    * literal would silently keep the last one). */
  def registry(families: Seq[Query]*): Seq[Query] = {
    val all = families.flatten
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty,
      s"query defined more than once: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }
}

/** How far up Bench's scale ladder a query runs beyond the sf0.1 main
  * loop. The rungs nest: an sf10 query also runs at sf1 (its sf1 time is
  * the sf10 deadline guard's anchor), an sf100 spot also runs at sf10.
  * sf1 members lead the main loop and are the only queries it times more
  * than once. */
sealed abstract class Scale(val sf1: Boolean, val sf10: Option[Rank],
                            val sf100EstS: Option[Double])

object Scale {
  /** sf0.1 main loop only. */
  case object Main extends Scale(false, None, None)
  /** The 10x rehearsal: join/agg/stateful shapes whose scale behaviour is
    * not a linear extrapolation of their sf0.1 median. */
  case object Sf1 extends Scale(true, None, None)
  /** The 100x section at a priority rank. */
  final case class Sf10(rank: Rank) extends Scale(true, Some(rank), None)
  /** The 1000x spot, with a cold-JVM wall estimate in seconds that the
    * spot's deadline guard checks before running it. */
  final case class Sf100(rank: Rank, estS: Double)
      extends Scale(true, Some(rank), Some(estS))
}

/** Priority of a query in Bench's sf10 section. The section runs the
  * ranks in declaration order, so a budget squeeze sheds from the last
  * rank up. `mandate` ranks are the entries the record must carry: while
  * they run, only the sf100 floor is held back. Without an sf1 anchor the
  * deadline guard assumes `fallbackS` seconds; with one, it scales the sf1
  * time and clamps it at `capS`. */
sealed abstract class Rank(val mandate: Boolean, val fallbackS: Double,
                           val capS: Double)

object Rank {
  /** Scan-bound ANN/BPE kernels measured in seconds at sf10: the most
    * mandate entries per second of wall. */
  case object Cheap extends Rank(true, 60.0, 180.0)
  /** The flagship dedup/decontamination compositions and the exact and
    * coarse ANN baselines. */
  case object Flagship extends Rank(true, 120.0, 180.0)
  /** Retrieval and composition mid-weights (tens of seconds at sf10). */
  case object Composite extends Rank(true, 120.0, 180.0)
  /** Stable operators whose sf10 points are rounds deep. */
  case object Stable extends Rank(false, 160.0, 300.0)
  /** The expensive exhaustive fallbacks (n-gram inverted index, simhash's
    * fat buckets, substring windows). */
  case object Heavy extends Rank(false, 160.0, 300.0)

  val inSectionOrder: Seq[Rank] = Seq(Cheap, Flagship, Composite, Stable, Heavy)
}
