// Comment-text fixture for tools/hint_lint.py --selftest: comments that
// NAME a broadcast or crossJoin call are prose, not sites. The scaladoc
// and the block comment below carry no `// expect` marker, so a lint
// that scans comment text as code fails the selftest with unexpected
// sites. NOT compiled, NOT part of the census (see selftest_hints.scala).
package graft.fixtures

import org.apache.spark.sql.functions._

object CommentSites {

  /** Scores every document against the batch total. An earlier shape,
    * `docs.join(broadcast(docs), "k")`, pinned the whole corpus as the
    * build side; the one-row total below replaces it.
    */
  def scored(docs: DataFrame): DataFrame = {
    /* a block comment may name the old join too:
       docs.crossJoin(broadcast(docs)) — still prose, across lines */
    val tot = docs.agg(sum(col("v")).as("t"))
    // a `/*` inside a string literal opens no comment: the site after it
    // on the same line is still found
    val glob = "parts/*.parquet"; val p = docs.crossJoin(broadcast(tot)) // expect: ONE_ROW_AGG
    p
  }
}
