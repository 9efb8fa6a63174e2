package graft

import graft.expressions.{ArrayPairs, BloomAgg, BloomMightContain, BpeTokenize, CharNgrams, CmEstimate, CosineSimilarity, CountMinAgg, DotProduct, ExciseWords, PqAdcDistance, SimHashAgg, WordNgrams, WordStats}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extensions registering graft's native Catalyst expressions
  * as SQL functions (install via
  * `spark.sql.extensions=graft.GraftExtensions`, which
  * `graft.util.configure` sets). Callable from SQL as
  * `cosine_sim(a, b)` or from the DataFrame API via
  * `graft.functions.cosineFast`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Scale guardrail (opt-in per session): rewrite exact percentile
    // aggregates to the mergeable t-digest sketch. See
    // graft.plans.ApproxPercentileRewrite.
    ext.injectOptimizerRule { session =>
      graft.plans.ApproxPercentileRewrite(() =>
        session.conf.get("spark.graft.approxPercentileRewrite", "false").toBoolean)
    }
    // Sibling guardrail for the other non-scalable exact aggregate:
    // COUNT(DISTINCT x) → HLL++ under spark.graft.approxDistinctRewrite.
    ext.injectOptimizerRule { session =>
      graft.plans.ApproxDistinctRewrite(
        () => session.conf.get("spark.graft.approxDistinctRewrite", "false").toBoolean,
        () => session.conf.get("spark.graft.approxDistinctRsd", "0.023").toDouble)
    }
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "cosine_sim expects exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "simhash_agg expects exactly 1 argument")
        SimHashAgg(children.head).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[PqAdcDistance].getName, "pq_adc"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "pq_adc expects exactly 2 arguments")
        PqAdcDistance(children.head, children(1))
      }))
    // count_min_agg(tokenHash[, depth, width]) / cm_estimate(sketch,
    // tokenHash[, depth, width]): depth/width must be int LITERALS —
    // they size the aggregation buffer, which cannot vary per row
    def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): Int = e match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    ext.injectFunction((
      new FunctionIdentifier("count_min_agg"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "count_min_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1 || children.size == 3,
          "count_min_agg expects (tokenHash) or (tokenHash, depth, width)")
        if (children.size == 1) CountMinAgg(children.head).toAggregateExpression()
        else CountMinAgg(children.head, intLit(children(1), "count_min_agg depth"),
          intLit(children(2), "count_min_agg width")).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("cm_estimate"),
      new ExpressionInfo(classOf[CmEstimate].getName, "cm_estimate"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2 || children.size == 4,
          "cm_estimate expects (sketch, tokenHash) or (sketch, tokenHash, depth, width)")
        if (children.size == 2) CmEstimate(children.head, children(1))
        else CmEstimate(children.head, children(1),
          intLit(children(2), "cm_estimate depth"),
          intLit(children(3), "cm_estimate width"))
      }))
    // bloom_agg(keyHash[, numBits, numHashes]) / bloom_contains(filter,
    // keyHash[, numBits, numHashes]): like Count-Min, the size params
    // must be int literals — they fix the aggregation buffer layout
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomAgg].getName, "bloom_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1 || children.size == 3,
          "bloom_agg expects (keyHash) or (keyHash, numBits, numHashes)")
        if (children.size == 1) BloomAgg(children.head).toAggregateExpression()
        else BloomAgg(children.head, intLit(children(1), "bloom_agg numBits"),
          intLit(children(2), "bloom_agg numHashes")).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_contains"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2 || children.size == 4,
          "bloom_contains expects (filter, keyHash) or (filter, keyHash, numBits, numHashes)")
        if (children.size == 2) BloomMightContain(children.head, children(1))
        else BloomMightContain(children.head, children(1),
          intLit(children(2), "bloom_contains numBits"),
          intLit(children(3), "bloom_contains numHashes"))
      }))
    // bpe_tokenize(text, merges): merges must be an array<string>
    // LITERAL of "left right" pairs in rank order — it is the model,
    // baked into the expression like the Count-Min buffer sizes
    ext.injectFunction((
      new FunctionIdentifier("bpe_tokenize"),
      new ExpressionInfo(classOf[BpeTokenize].getName, "bpe_tokenize"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "bpe_tokenize expects (text, merges)")
        require(children(1).foldable,
          "bpe_tokenize merges must be an array<string> literal")
        val arr = children(1).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toArray[org.apache.spark.unsafe.types.UTF8String](
            org.apache.spark.sql.types.StringType)
        val merges = arr.toSeq.map { u =>
          val s = u.toString
          val i = s.indexOf(' ')
          require(i > 0, s"malformed merge entry '$s' (want 'left right')")
          (s.substring(0, i), s.substring(i + 1))
        }
        BpeTokenize(children.head, merges)
      }))
    ext.injectFunction((
      new FunctionIdentifier("excise_words"),
      new ExpressionInfo(classOf[ExciseWords].getName, "excise_words"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "excise_words expects exactly 2 arguments")
        ExciseWords(children.head, children(1))
      }))
    // word_ngrams(text, n): n must be an int literal — it fixes the
    // output arity per row like the sketch buffer sizes do
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "word_ngrams expects (text, n)")
        WordNgrams(children.head, intLit(children(1), "word_ngrams n"))
      }))
    // char_ngrams(text, n): n must be an int literal (fixed arity)
    ext.injectFunction((
      new FunctionIdentifier("char_ngrams"),
      new ExpressionInfo(classOf[CharNgrams].getName, "char_ngrams"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "char_ngrams expects (text, n)")
        CharNgrams(children.head, intLit(children(1), "char_ngrams n"))
      }))
    // char_ngram_tf(text, n): per-row n-gram term frequencies
    ext.injectFunction((
      new FunctionIdentifier("char_ngram_tf"),
      new ExpressionInfo(classOf[graft.expressions.CharNgramTf].getName, "char_ngram_tf"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "char_ngram_tf expects (text, n)")
        graft.expressions.CharNgramTf(children.head,
          intLit(children(1), "char_ngram_tf n"))
      }))
    // array_pairs(arr): all ordered index pairs of a long array
    ext.injectFunction((
      new FunctionIdentifier("array_pairs"),
      new ExpressionInfo(classOf[ArrayPairs].getName, "array_pairs"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "array_pairs expects (arr)")
        ArrayPairs(children.head)
      }))
    // word_stats(text, stops): stops must be an array<string> literal
    // — it is part of the expression like bpe_tokenize's merges
    ext.injectFunction((
      new FunctionIdentifier("word_stats"),
      new ExpressionInfo(classOf[WordStats].getName, "word_stats"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "word_stats expects (text, stops)")
        require(children(1).foldable,
          "word_stats stops must be an array<string> literal")
        val arr = children(1).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toArray[org.apache.spark.unsafe.types.UTF8String](
            org.apache.spark.sql.types.StringType)
        WordStats(children.head, arr.toSeq.map(_.toString))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "dot_product expects exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
  }
}
