package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._

/** Lookup tables: string, sparseArray, regex and array types, and reload
  * (SURVEY §2.6). */
object LookupQueries {

  // shared by lookup_reload and its streaming face: both reload the
  // table between the same two epochs
  private[queries] val lookupReloadOracle: String =
    """WITH e1 AS (
      |  SELECT CASE event_type WHEN 'error' THEN 'sev-high'
      |                         WHEN 'purchase' THEN 'rev'
      |                         ELSE 'UNK' END AS cls
      |  FROM events WHERE event_id % 2 = 0),
      |e2 AS (
      |  SELECT CASE event_type WHEN 'error' THEN 'sev-crit'
      |                         WHEN 'signup' THEN 'acq'
      |                         ELSE 'UNK' END AS cls
      |  FROM events WHERE event_id % 2 = 1)
      |SELECT CAST(1 AS BIGINT) AS epoch, cls, count(*) AS n FROM e1 GROUP BY 1, 2
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS epoch, cls, count(*) AS n FROM e2 GROUP BY 1, 2""".stripMargin

  val queries: Seq[Query] = Seq(
    // §2.6 lookup table (string type) — broadcast-map enrichment
    Query("lookup_string", (s, dir) => {
      val tbl = StringLookup(
        Map("error" -> "E", "signup" -> "S", "purchase" -> "P", "view" -> "V"),
        nomatch = "UNK")
      Tables.events(s, dir)
        .withColumn("code", tbl.probe(col("event_type")))
        .groupBy(col("code")).agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
    },
      """SELECT CASE event_type
        |    WHEN 'error' THEN 'E' WHEN 'signup' THEN 'S'
        |    WHEN 'purchase' THEN 'P' WHEN 'view' THEN 'V'
        |    ELSE 'UNK' END AS code,
        |  count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY 1""".stripMargin),

    // §2.6 lookup table (sparseArray type) — floor-match on sorted ranges
    Query("lookup_sparse", (s, dir) => {
      val tbl = SparseArrayLookup(
        IndexedSeq(0L -> "low", 50L -> "mid", 150L -> "high", 500L -> "xhigh"),
        nomatch = "neg")
      Tables.events(s, dir)
        .withColumn("band", tbl.probe(floor(col("value")).cast("long")))
        .groupBy(col("band")).agg(count(lit(1)).as("n"))
    },
      """SELECT CASE
        |    WHEN floor(value) >= 500 THEN 'xhigh'
        |    WHEN floor(value) >= 150 THEN 'high'
        |    WHEN floor(value) >= 50 THEN 'mid'
        |    WHEN floor(value) >= 0 THEN 'low'
        |    ELSE 'neg' END AS band,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),

    // §2.6 lookup table (regex type) — ordered first-match-wins
    Query("lookup_regex", (s, dir) => {
      val tbl = RegexLookup(
        IndexedSeq("^p" -> "p-ish", "^(e|s)" -> "es-ish", "w$" -> "w-end"),
        nomatch = "other")
      Tables.events(s, dir)
        .withColumn("cls", tbl.probe(col("event_type")))
        .groupBy(col("cls")).agg(count(lit(1)).as("n"))
    },
      """SELECT CASE
        |    WHEN regexp_matches(event_type, '^p') THEN 'p-ish'
        |    WHEN regexp_matches(event_type, '^(e|s)') THEN 'es-ish'
        |    WHEN regexp_matches(event_type, 'w$') THEN 'w-end'
        |    ELSE 'other' END AS cls,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),

    // §2.6 lookup table (array type) — dense offset lookup
    Query("lookup_array", (s, dir) => {
      val tbl = ArrayLookup(100L,
        (0 until 20).map(i => s"svc${i}").toIndexedSeq, nomatch = "nosvc")
      Tables.events(s, dir)
        .withColumn("svc", tbl.probe(col("user_id") % 30 + 100))
        .groupBy(col("svc")).agg(count(lit(1)).as("n"))
    },
      """SELECT CASE WHEN user_id % 30 + 100 <= 119
        |    THEN 'svc' || (user_id % 30) ELSE 'nosvc' END AS svc,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),

    // §2.1 reload_lookup_table — hot reload ≡ per-epoch rebuild: the table
    // FILE is rewritten and re-loaded between epochs (the exact mechanics
    // of the foreachBatch re-read at stream epoch boundaries; reference
    // runtime/lookup.c lookupReload). Epoch 1 probes v1, epoch 2 the
    // reloaded v2; routing stays declarative per epoch.
    Query("lookup_reload", (s, dir) => {
      val f = java.io.File.createTempFile("graft_lookup_reload", ".json")
      f.deleteOnExit()
      def write(json: String): Unit = {
        val w = new java.io.PrintWriter(f)
        try w.write(json) finally w.close()
      }
      write("""{"version":1,"nomatch":"UNK","type":"string","table":[
        {"index":"error","value":"sev-high"},{"index":"purchase","value":"rev"}]}""")
      val v1 = LookupTable.load(f.getPath)
      write("""{"version":1,"nomatch":"UNK","type":"string","table":[
        {"index":"error","value":"sev-crit"},{"index":"signup","value":"acq"}]}""")
      val v2 = LookupTable.load(f.getPath)
      val ev = Tables.events(s, dir)
      val epoch1 = ev.filter(col("event_id") % 2 === 0)
        .withColumn("cls", v1.probe(col("event_type")))
        .withColumn("epoch", lit(1L))
      val epoch2 = ev.filter(col("event_id") % 2 === 1)
        .withColumn("cls", v2.probe(col("event_type")))
        .withColumn("epoch", lit(2L))
      epoch1.unionByName(epoch2)
        .groupBy(col("epoch"), col("cls"))
        .agg(count(lit(1)).as("n"))
    },
      lookupReloadOracle)
  )
}
