package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.{Det, Stage}

/** Bradley-Terry pairwise-strength fitting — the model behind every
  * LLM-evaluation leaderboard (Chatbot-Arena-style Elo-from-battles) and
  * preference-data quality audits: given match outcomes between players
  * (sources, models, annotators), recover a latent strength p_i such that
  * P(i beats j) = p_i / (p_i + p_j).
  *
  * Fitting uses the classic MM (minorize-maximize) update, Hunter 2004:
  *
  *   p_i' = W_i / Σ_{j≠j} n_ij / (p_i + p_j)
  *
  * regularized with one VIRTUAL match per player against a fixed rating-1.0
  * opponent, half won (W_i += 0.5, denominator += 1/(p_i + 1)) — the
  * standard trick that keeps never-winning and never-losing players finite
  * and makes the iteration total. After each update ratings are rescaled to
  * mean 1 so the scale is pinned.
  *
  * Determinism contract (the whole fit is oracle-recomputable):
  *  - every per-edge term is pinned via Det.roundN(…, 12) BEFORE summation;
  *  - sums run in DECIMAL(38,18), so they are order-independent;
  *  - each new rating is itself pinned to 12 places.
  * With identical inputs both engines walk bit-identical iterates.
  *
  * Shape at scale: players can number millions (per-domain ratings over a
  * crawl). Each round is two keyed joins of the edge relation against the
  * ratings relation plus one per-player aggregate and a 1-row mean
  * broadcast — no driver-side state, no global sort; rounds are
  * lineage-cut through [[graft.engine.Stage.materializeAlways]].
  */
object BradleyTerry {

  private def r12(c: org.apache.spark.sql.Column) = Det.roundN(c, 12)

  /** @param games aggregated match relation: (a, b, n, wins_a) with a ≠ b;
    *              each unordered pair appears once.
    * @param rounds MM iterations (each is 2 small joins + 1 aggregate).
    * @return (player, games, wins, rating) — rating pinned to 12 places,
    *         mean-1 normalized.
    */
  def fit(games: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds: $rounds")
    val spark = games.sparkSession

    // directed edge relation: one row per (player, opponent) with that
    // player's win count in the pairing. Staged ONCE — every MM round
    // reads it, and without the cut the upstream match-generation
    // pipeline would re-execute per round (measured 5× the fit cost).
    val edges = Stage.materialize(
      games.select(col("a").as("i"), col("b").as("j"),
          col("n"), col("wins_a").as("w"))
        .unionAll(games.select(col("b").as("i"), col("a").as("j"),
          col("n"), (col("n") - col("wins_a")).as("w"))))

    val totals = Stage.materialize(edges.groupBy("i").agg(
      sum("n").as("games"), sum("w").as("wins")).coalesce(1))

    var ratings = totals.select(col("i").as("player"), lit(1.0).as("p"))
    for (_ <- 1 to rounds) {
      // ratings is the small side of both joins (one row per player vs
      // one per pairing), but its size estimate compounds through the
      // staged rounds (over 1 GB from the first round, even at sf0.001),
      // so BroadcastGuard would strip a broadcast hint here; AQE picks
      // the join strategy from runtime sizes.
      val pi = ratings.select(col("player").as("i"), col("p").as("p_i"))
      val pj = ratings.select(col("player").as("j"), col("p").as("p_j"))
      val den = edges.join(pi, "i").join(pj, "j")
        .withColumn("__t", r12(col("n") / (col("p_i") + col("p_j")))
          .cast(DecimalType(38, 18)))
        .groupBy(col("i"), col("p_i"))
        .agg(sum("__t").cast("double").as("__den"))
      val raw = den.join(totals, "i")
        .select(col("i").as("player"),
          r12((col("wins") + lit(0.5)) /
            (col("__den") + r12(lit(1.0) / (col("p_i") + lit(1.0)))))
            .as("p"))
      val mean = raw.agg((sum(col("p").cast(DecimalType(38, 18)))
          .cast("double") / count(lit(1))).as("__mean"))
      // coalesce(1): the ratings relation is player-bounded and tiny
      // relative to the edge relation; single-partition rounds keep each
      // iteration's jobs from paying 32-partition scheduling overhead.
      // (With millions of players, drop the coalesce — the joins stay
      // keyed either way.)
      ratings = Stage.materializeAlways(
        raw.crossJoin(broadcast(mean))
          .select(col("player"), r12(col("p") / col("__mean")).as("p"))
          .coalesce(1))
    }
    ratings.join(totals.select(col("i").as("player"), col("games"),
        col("wins")), "player")
      .select(col("player"), col("games"), col("wins"),
        col("p").as("rating"))
  }
}
