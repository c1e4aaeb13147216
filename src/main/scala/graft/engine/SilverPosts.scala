package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Silver posts transform — the reference DECLARES this table but never
  * built the writer (silver.clean_posts: title_length, body_length,
  * word_count, avg_word_length, has_links, sentiment_score —
  * transform_silver.py:82-95, SURVEY intro). This implements the declared
  * computation with the engine's text primitives.
  *
  * sentiment_score: no reference implementation exists; deterministic
  * lexicon heuristic in [-1, 1] — (positive − negative hits) / word count.
  */
object SilverPosts {

  val positiveWords = Seq("good", "great", "fast", "small", "new", "best")
  val negativeWords = Seq("bad", "slow", "large", "old", "worst", "error")

  def transform(posts: DataFrame, titleCol: String = "title",
      bodyCol: String = "body"): DataFrame = {
    val body = col(bodyCol)
    val wc = TextFunctions.wordCount(body)
    posts
      .withColumn("title_length", length(col(titleCol)).cast("long"))
      .withColumn("body_length", length(body).cast("long"))
      .withColumn("word_count", wc)
      .withColumn("avg_word_length", TextFunctions.avgWordLength(body))
      .withColumn("has_links", TextFunctions.hasLinks(body))
      .withColumn("sentiment_score",
        when(wc > 0, Det.roundN(
          (TextFunctions.tokenHits(body, positiveWords) -
            TextFunctions.tokenHits(body, negativeWords))
            .cast("double") / wc, 4))
          .otherwise(0.0))
  }
}
