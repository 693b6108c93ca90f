package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the Sennrich worked example's corpus (low/lower/newest/widest),
  // marker-free variant — merge sequence hand-computed in the test
  private val corpusWords = Array("low", "lower", "newest", "widest")
  private val corpusFreqs = Array(5L, 2L, 6L, 3L)

  test("trainLocal reproduces the hand-computed merge sequence") {
    val words = corpusWords.map(_.map(_.toString).toArray)
    val merges = Bpe.trainLocal(words, corpusFreqs, 5)
    // counts: (e,s)=9 ties (s,t)=9 -> lexicographic; then (es,t)=9;
    // (l,o)=7 ties (o,w)=7; (lo,w)=7; then 6-way tie broken by (e,w)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"), ("e", "w")),
      merges.toString)
  }

  test("encodeWord applies merges in rank order, all occurrences left-to-right") {
    val m = Array(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"), ("e", "w"))
    assert(Bpe.encodeWord("lowest", m).toSeq == Seq("low", "est"))
    assert(Bpe.encodeWord("newest", m).toSeq == Seq("n", "ew", "est"))
    assert(Bpe.encodeWord("widest", m).toSeq == Seq("w", "i", "d", "est"))
    // non-overlapping left-to-right: aaaa + (a,a) -> [aa, aa]; aaa -> [aa, a]
    assert(Bpe.encodeWord("aaaa", Array(("a", "a"))).toSeq == Seq("aa", "aa"))
    assert(Bpe.encodeWord("aaa", Array(("a", "a"))).toSeq == Seq("aa", "a"))
    // a later merge builds on an earlier one
    assert(Bpe.encodeWord("aaaa", Array(("a", "a"), ("aa", "aa"))).toSeq == Seq("aaaa"))
    assert(Bpe.encodeWord("x", Array(("a", "a"))).toSeq == Seq("x"))
    // adjacent repeated occurrences BOTH merge (standard BPE) — the
    // class a single SQL replace() pass gets wrong by consuming the
    // shared delimiter (why the oracle iterates replace to fixpoint)
    assert(Bpe.encodeWord("raining", Array(("i", "n"))).toSeq ==
      Seq("r", "a", "in", "in", "g"))
    assert(Bpe.encodeWord("banana", Array(("a", "n"))).toSeq ==
      Seq("b", "an", "an", "a"))
  }

  test("wordFreq: deterministic bounded top-k with (n desc, word asc) tie-break") {
    val df = Seq("b b b a a c c", "a c", "d").toDF("text")
    val wf = Bpe.wordFreq(df, col("text"), 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // counts: a=3, b=3, c=3, d=1 -> top3 by tie-break keeps a,b,c
    assert(wf.toSeq == Seq(("a", 3L), ("b", 3L), ("c", 3L)), wf.toSeq.toString)
  }

  test("pairCounts: weighted adjacent char pairs over the model") {
    val wf = Seq(("low", 5L), ("ow", 2L), ("x", 9L)).toDF("word", "n")
    val pc = Bpe.pairCounts(wf).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // (l o)=5, (o w)=5+2; single-char word contributes nothing
    assert(pc == Map("l o" -> 5L, "o w" -> 7L), pc.toString)
  }

  test("distributed train matches trainLocal on the same model") {
    val df = corpusWords.zip(corpusFreqs)
      .flatMap { case (w, n) => Seq.fill(n.toInt)(w) }
      .mkString(" ")
    val wf = Bpe.wordFreq(Seq(df).toDF("text"), col("text"), 100)
    val merges = Bpe.train(wf, 5)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"), ("e", "w")))
  }

  test("encode: distributed output equals per-word encodeWord; cache-safe on repeats") {
    val m = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"), ("e", "w"))
    val df = Seq(
      (1L, "lowest newest, LOWEST!"),
      (2L, "widest"),
      (3L, ""),          // no words -> empty token array
      (4L, null: String) // null text -> empty token array, never a throw
    ).toDF("doc_id", "text")
    val out = Bpe.encode(df, col("doc_id"), col("text"), m)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(out(0) == ((1L, Seq("low", "est", "n", "ew", "est", "low", "est"))), out(0).toString)
    assert(out(1) == ((2L, Seq("w", "i", "d", "est"))))
    assert(out(2)._2.isEmpty && out(3)._2.isEmpty)
  }

  test("bench workload parity pin: bpe_encode generator at 100k matches the oracle value") {
    // the bench harness compares TIMES only, so the value parity of the
    // bpe_encode_10m recipe is pinned here: the DuckDB oracle formulation
    // (BenchRows.bpeEncodeOracle10m at range(100000)) returns (100000, 2600022)
    val r = Bpe.encode(BenchRows.foxDocs(spark, 100000L), col("id"), col("text"), SparkEntry.BpeCertMerges)
      .agg(count(lit(1)), sum(size(col("tokens")))).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((100000L, 2600022L)), r.toString)
  }

  test("train-then-encode roundtrip: tokens concatenate back to the pre-tokens") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quicker brown foxes jumped over lazy dogs"),
      (3L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val merges = Bpe.train(Bpe.wordFreq(docs, col("text"), 1000), 30)
    assert(merges.nonEmpty && merges.length <= 30)
    val enc = Bpe.encode(docs, col("doc_id"), col("text"), merges)
    val joined = docs
      .select(col("doc_id"), concat_ws("", Bpe.preTokens(col("text"))).as("flat"))
      .join(enc.withColumn("flat2", concat_ws("", col("tokens"))),
        col("doc_id") === col("id"))
    assert(joined.where(col("flat") =!= col("flat2")).count() == 0)
    // vocab covers every emitted token
    val v = Bpe.vocab(merges)
    val toks = enc.select(explode(col("tokens"))).distinct().as[String].collect()
    assert(toks.forall(t => t.length == 1 || v.contains(t)), toks.filterNot(v.contains).mkString(","))
  }
}
