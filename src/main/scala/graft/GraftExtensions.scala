package graft

import graft.functions.{DotF32, DotI8, MaxBigramRun, MaxNgramRun, MinShingleMd5, MinhashSigs, RollingHash, ShingleHashes, SimhashSig}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension installing graft's native Catalyst functions, so
  * both the Column API and plain SQL can call them:
  *
  * ```scala
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * // or: --conf spark.sql.extensions=graft.GraftExtensions
  * spark.sql("SELECT dot_f32(a.embedding, b.embedding) FROM ...")
  * ```
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // band joins with no equi key become bucketed equi-joins (the
    // nested-loop trap every naive time-window join falls into)
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
    // filters that differ only in comparison constants share one
    // generated class (graft.plans.StableFilterLiterals)
    ext.injectColumnar(_ => graft.plans.StableFilterLiterals.columnar)
    // plans the custom AsofJoin logical node (graft.plans.Asof.join)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // SQL `ASOF [LEFT] JOIN` syntax: lexical parser rewrite → marker →
    // analyzer rule swaps the marked Join for the native AsofJoin node
    // (graft.plans.AsofSqlSyntax)
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    ext.injectResolutionRule(_ => graft.plans.AsofSyntaxRule)
    ext.injectFunction((
      new FunctionIdentifier("graft_asof_marker"),
      new ExpressionInfo(classOf[graft.plans.AsofMarker].getName,
        "graft_asof_marker"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "graft_asof_marker takes exactly 1 argument")
        graft.plans.AsofMarker(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotF32].getName, "dot_f32"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "dot_f32 takes exactly 2 arguments")
        DotF32(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_i8"),
      new ExpressionInfo(classOf[DotI8].getName, "dot_i8"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "dot_i8 takes exactly 2 arguments")
        DotI8(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("max_bigram_run"),
      new ExpressionInfo(classOf[MaxBigramRun].getName, "max_bigram_run"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "max_bigram_run takes exactly 1 argument")
        MaxBigramRun(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSigs].getName, "minhash_sigs"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "minhash_sigs takes exactly 1 argument")
        MinhashSigs(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("oph_slots"),
      new ExpressionInfo(classOf[graft.functions.OphSlots].getName, "oph_slots"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "oph_slots takes exactly 1 argument")
        graft.functions.OphSlots(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("min_shingle_md5"),
      new ExpressionInfo(classOf[MinShingleMd5].getName, "min_shingle_md5"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "min_shingle_md5 takes exactly 1 argument")
        MinShingleMd5(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("ngram_set_stats"),
      new ExpressionInfo(classOf[graft.functions.NgramSetStats].getName, "ngram_set_stats"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "ngram_set_stats takes exactly 1 argument")
        graft.functions.NgramSetStats(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimhashSig].getName, "simhash_sig"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "simhash_sig takes exactly 1 argument")
        SimhashSig(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "rolling_hash takes exactly 1 argument")
        RollingHash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "shingle_hashes takes exactly 2 arguments")
        ShingleHashes(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[graft.functions.WinnowFingerprints].getName,
        "winnow_fingerprints"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3, "winnow_fingerprints takes exactly 3 arguments")
        graft.functions.WinnowFingerprints(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("frame_pair_diffs"),
      new ExpressionInfo(classOf[graft.functions.FramePairDiffs].getName, "frame_pair_diffs"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "frame_pair_diffs takes exactly 1 argument")
        graft.functions.FramePairDiffs(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("max_ngram_run"),
      new ExpressionInfo(classOf[MaxNgramRun].getName, "max_ngram_run"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "max_ngram_run takes exactly 2 arguments")
        MaxNgramRun(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bpe_merge_pair"),
      new ExpressionInfo(classOf[graft.functions.BpeMergePair].getName, "bpe_merge_pair"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3, "bpe_merge_pair takes exactly 3 arguments")
        graft.functions.BpeMergePair(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bpe_apply_merges"),
      new ExpressionInfo(classOf[graft.functions.BpeApplyMerges].getName, "bpe_apply_merges"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "bpe_apply_merges takes exactly 2 arguments")
        graft.functions.BpeApplyMerges(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("unigram_viterbi"),
      new ExpressionInfo(classOf[graft.functions.UnigramViterbi].getName, "unigram_viterbi"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 4, "unigram_viterbi takes exactly 4 arguments")
        graft.functions.UnigramViterbi(children.head, children(1), children(2), children(3))
      }))
    ext.injectFunction((
      new FunctionIdentifier("unigram_nbest"),
      new ExpressionInfo(classOf[graft.functions.UnigramNbest].getName, "unigram_nbest"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 4, "unigram_nbest takes exactly 4 arguments")
        graft.functions.UnigramNbest(children.head, children(1), children(2), children(3))
      }))
    ext.injectFunction((
      new FunctionIdentifier("ac_matches"),
      new ExpressionInfo(classOf[graft.functions.AcMatches].getName, "ac_matches"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "ac_matches takes exactly 2 arguments")
        graft.functions.AcMatches(children.head, children(1))
      }))
    // per-row code-point frequency map (text_char_entropy's aggregate-
    // before-shuffle replacement for the per-character explode)
    ext.injectFunction((
      new FunctionIdentifier("char_counts"),
      new ExpressionInfo(classOf[graft.functions.CharCounts].getName, "char_counts"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "char_counts takes exactly 1 argument")
        graft.functions.CharCounts(children.head)
      }))
    // head-60-of-md5 hash bucket (the oracle's ('0x'||substr(md5,1,15))
    // convention) without the builtin md5→substring→conv string chain
    ext.injectFunction((
      new FunctionIdentifier("md5_head60"),
      new ExpressionInfo(classOf[graft.functions.Md5Head60].getName, "md5_head60"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "md5_head60 takes exactly 1 argument")
        graft.functions.Md5Head60(children.head)
      }))
    // corpus tokenizer: split(trim(lower(text)), '\s+') as one byte-scan
    // expression (and its array-free size() twin) — see WsTokens scaladoc
    ext.injectFunction((
      new FunctionIdentifier("ws_tokens"),
      new ExpressionInfo(classOf[graft.functions.WsTokens].getName, "ws_tokens"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "ws_tokens takes exactly 1 argument")
        graft.functions.WsTokens(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("ws_token_count"),
      new ExpressionInfo(classOf[graft.functions.WsTokenCount].getName, "ws_token_count"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "ws_token_count takes exactly 1 argument")
        graft.functions.WsTokenCount(children.head)
      }))
    // native count-min fold: one 4096-cell Long buffer per group,
    // element-wise ADD merge (exact — split-invariant bit-for-bit)
    ext.injectFunction((
      new FunctionIdentifier("count_min_agg"),
      new ExpressionInfo(classOf[graft.functions.CountMinAgg].getName,
        "count_min_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "count_min_agg takes exactly 2 arguments")
        graft.functions.CountMinAgg(children.head, children(1))
      }))
    // native HLL register fold: one 256-byte buffer per group, byte-MAX
    // merge — the analyzer wraps the AggregateFunction on use
    ext.injectFunction((
      new FunctionIdentifier("hll_registers_agg"),
      new ExpressionInfo(classOf[graft.functions.HllRegistersAgg].getName,
        "hll_registers_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "hll_registers_agg takes exactly 1 argument")
        graft.functions.HllRegistersAgg(children.head)
      }))
    // one tile's values in position order (Cube.tiles): primitive
    // buffers that grow with the pixels present, append merge
    ext.injectFunction((
      new FunctionIdentifier("tile_pack"),
      new ExpressionInfo(classOf[graft.functions.TilePack].getName, "tile_pack"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "tile_pack takes exactly 2 arguments")
        graft.functions.TilePack(children.head, children(1))
      }))
  }
}
