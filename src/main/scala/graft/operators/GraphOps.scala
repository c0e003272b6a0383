package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the event-transition graph — the family a
  * behavioural-analytics user reaches for once funnels and Markov
  * matrices exist (SURVEY §2.1-H's natural extension; the dedup keys
  * already do connected components implicitly via iterative min-label in
  * [[Dedup]]'s cluster canonicalization).
  *
  * The graph is DERIVED, not stored: nodes are the event_type domain,
  * edges are per-user consecutive-event transitions weighted by count —
  * exactly [[EventOps]]'s `events_markov_transitions` relation. That
  * makes the scale split explicit: ONE fact-proportional pass builds the
  * weighted edge list (map-side partial counts, one shuffle on the
  * (from, to) pair domain), and everything after is domain-sized —
  * |types|² ≤ a few hundred rows at ANY corpus size. The iteration
  * therefore runs over a collected literal edge table (the MLlib
  * codebook pattern used by the ANN keys: domain-sized driver state, not
  * a hot-path collect), so three PageRank rounds add ZERO extra scans of
  * the fact — the naive DataFrame loop would re-scan events once per
  * iteration per the Catalyst shared-subtree rule.
  *
  * Determinism: every per-edge contribution r·p is a chain of
  * correctly-rounded IEEE ops on identical inputs (counts are exact
  * longs; long→double is exact below 2⁵³), and the per-node sum — the
  * one order-sensitive step — goes through [[Det.dsum]] at scale 12
  * (values < 1, so ~13 significant digits: inside the decimal→double
  * safe band). Damping constants are written as the literals 0.15/0.85
  * on both engines (never `1 − d`), so both parse to the same doubles.
  */
object GraphOps {
  import Det._

  val qs: Seq[Q] = Seq(
    // Weighted PageRank, damping 0.85, exactly 3 iterations, over the
    // event-type transition graph. Dangling mass (a type with no
    // outgoing transitions) is dropped, not redistributed — the
    // simplified formulation, stated so the oracle can mirror it.
    Q("graph_pagerank",
      (s, dir) => {
        import s.implicits._
        val userW = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        // one fact pass: keep NULL to_type rows so terminal-only types
        // still register as nodes, then collect the ≤ |types|·(|types|+1)
        // count table (domain-sized at any SF)
        val tc = Tables.table(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts_us"),
            col("event_id"))
          .withColumn("to_type", lead(col("event_type"), 1).over(userW))
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("cnt"))
          .collect()
          .map(r => (r.getAs[String]("from_type"),
            Option(r.getAs[String]("to_type")), r.getAs[Long]("cnt")))
        val nodes = tc.map(_._1).distinct.sorted.toSeq
        val n = nodes.size
        val outW: Map[String, Long] = tc.collect {
          case (f, Some(_), c) => (f, c)
        }.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).sum }
        // p computed here with the same long→double-exact division the
        // oracle writes as CAST(cnt AS DOUBLE) / outw
        val edges = tc.collect { case (f, Some(t), c) =>
          (f, t, c.toDouble / outW(f).toDouble)
        }.toSeq
        // The 3-round iteration runs HERE, on the collected domain-sized
        // edge table (r17, guide §1.2/§2.4 — the DistRank literal-map
        // precedent): the previous DataFrame loop re-planned two joins +
        // one aggregate per round over ≤|types|-row literal frames — ~13
        // pure-dispatch jobs at ANY scale, since everything after the one
        // fact pass is domain-sized by construction. Each step replicates
        // the retired plan's arithmetic exactly: the per-node sum snaps
        // every r·p term to DECIMAL(28,12) HALF_UP (Det.snap, the
        // driver-side twin of dsumSnap's double→decimal cast), adds
        // exactly (decimal addition is order-free), and emits via
        // doubleValue — the identical single-rounded decimal→double cast.
        var rank: Map[String, Double] = nodes.map(t => t -> 1.0 / n).toMap
        for (_ <- 1 to 3) {
          val sums = scala.collection.mutable.Map.empty[
            String, java.math.BigDecimal]
          for ((f, t, p) <- edges) {
            val term = Det.snap(rank(f) * p, 12)
            sums.updateWith(t)(prev => Some(
              prev.map(_.add(term)).getOrElse(term)))
          }
          rank = nodes.map { t =>
            val c = sums.get(t).map(_.doubleValue).getOrElse(0.0)
            t -> (0.15 / n.toDouble + 0.85 * c)
          }.toMap
        }
        // round(r, 6) stays a Spark expression on the literal doubles so
        // the final snap is the very same Round codepath as before.
        nodes.map(t => (t, outW.getOrElse(t, 0L), rank(t)))
          .toDF("node", "out_events", "r")
          .select(col("node"), col("out_events"),
            round(col("r"), 6).as("rank_r6"))
          .orderBy(col("node"))
      },
      Some {
        val seed =
          s"""seq AS (
             |  SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ${sqlMicros("ts")}, event_id) AS to_type
             |  FROM events),
             |tc AS (SELECT from_type, to_type, count(*)::BIGINT AS cnt
             |       FROM seq GROUP BY 1, 2),
             |nodes AS (SELECT DISTINCT from_type AS node FROM tc),
             |ed AS (SELECT from_type, to_type, cnt FROM tc
             |       WHERE to_type IS NOT NULL),
             |outd AS (SELECT from_type, sum(cnt)::BIGINT AS outw
             |         FROM ed GROUP BY 1),
             |edges AS (SELECT e.from_type, e.to_type,
             |            CAST(e.cnt AS DOUBLE) / o.outw AS p
             |          FROM ed e JOIN outd o USING (from_type)),
             |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
             |it0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS r
             |        FROM nodes, nn)"""
        val iters = (1 to 3).map { i =>
          s"""c$i AS (
             |  SELECT e.to_type AS node,
             |    CAST(sum(CAST(r.r * e.p AS DECIMAL(28,12))) AS DOUBLE) AS c
             |  FROM it${i - 1} r JOIN edges e ON e.from_type = r.node
             |  GROUP BY 1),
             |it$i AS (
             |  SELECT n.node,
             |    CAST(0.15 AS DOUBLE) / nn.n
             |      + CAST(0.85 AS DOUBLE)
             |        * coalesce(c$i.c, CAST(0 AS DOUBLE)) AS r
             |  FROM nodes n CROSS JOIN nn
             |  LEFT JOIN c$i ON c$i.node = n.node)"""
        }.mkString(",\n")
        sql(s"""WITH $seed,
          |$iters
          |SELECT f.node, coalesce(o.outw, 0)::BIGINT AS out_events,
          |  round(f.r, 6) AS rank_r6
          |FROM it3 f LEFT JOIN outd o ON o.from_type = f.node
          |ORDER BY f.node""")
      }))
}
