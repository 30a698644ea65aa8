package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * All pure Catalyst column expressions (codegen'd, no UDFs) — they run
  * inside WholeStageCodegen and scale linearly with no shuffle.
  */
object TextOps {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish subword count: alnum runs + punctuation marks each count as a
    * token (a cheap deterministic proxy for a real tokenizer's token count).
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?<=\\W)|(?=\\W)"), t => length(trim(t)) > 0))

  /** Document fingerprint: sha256 of case/whitespace-normalized text —
    * canonical form for exact near-identity dedup (SURVEY C13 analog;
    * reference integrity check: row-count reconciliation,
    * PhylogenesServerWrapper.java:1219-1253).
    */
  def fingerprint(text: Column): Column =
    sha2(regexp_replace(lower(trim(text)), "\\s+", " "), 256)

  /** Shingle array over a PRE-SPLIT words column — THE one definition of
    * word n-grams (DedupOps and the DuckDB oracles mirror it; `<n` words
    * fall back to a single whole-text shingle). Callers should project the
    * split into its own column first (see [[repetition]]): inlining
    * `split` here re-splits once per shingle inside the transform lambda.
    */
  def shingleArrOf(words: Column, n: Int): Column =
    when(size(words) < n, array(concat_ws(" ", words)))
      .otherwise(transform(
        sequence(lit(0), size(words) - n),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))))

  /** Word n-gram shingles (default 3) as an array column. */
  def shingles(text: Column, n: Int = 3): Column =
    shingleArrOf(split(lower(trim(text)), "\\s+"), n)

  /** Word n-gram repetition ratio in [0,1): 1 − distinct/total n-grams.
    * The standard boilerplate/spam signal (MassiveText-style repetition
    * filters) — 0 for fully novel text, →1 for a looping template. Pure
    * codegen'd column expression; rounded so external engines reproduce
    * the exact doubles.
    */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val sh = shingles(text, n)
    round(lit(1.0) - size(array_distinct(sh)).cast("double") /
      size(sh).cast("double"), 6)
  }

  /** DataFrame-shaped [[repetitionRatio]]: (idCol, rep_ratio). The split
    * and shingle arrays are hoisted into their own projections so each is
    * computed ONCE per row — the single-Column form inlines `split` into
    * the transform lambda where codegen subexpression elimination is off,
    * re-splitting the text per shingle (measured ~10× on this op; same
    * CollapseProject non-cheap-expression guard DedupOps relies on).
    */
  def repetition(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("ws"))
      .select(col(idCol), shingleArrOf(col("ws"), n).as("sh"))
      .select(col(idCol),
        round(lit(1.0) - size(array_distinct(col("sh"))).cast("double") /
          size(col("sh")).cast("double"), 6).as("rep_ratio"))

  /** Stopword profiles for the n-gram/stopword language-ID heuristic. */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "que", "dans"),
    "de" -> Seq("der", "die", "das", "und", "von", "zu", "mit", "den", "ist", "nicht"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "他")
  )

  /** Language ID: argmax of stopword hits per language profile (n-gram
    * heuristic, deterministic; ties broken by language code asc).
    * Returns "und" when no profile matches.
    */
  def langId(text: Column): Column = {
    val words = split(lower(text), "\\s+")
    val langs = langProfiles.toSeq.sortBy(_._1)
    val scored = langs.zipWithIndex.map { case ((lang, stop), i) =>
      val hits = size(array_intersect(words, array(stop.map(lit): _*))) +
        // zh has no spaces — count profile chars contained in the raw text
        (if (lang == "zh") size(filter(array(stop.map(lit): _*), c => contains(text, c))) else lit(0))
      // priority descends with lang code so score ties resolve to the
      // alphabetically FIRST language under greatest()
      struct(hits.cast("int").as("score"),
        lit(langs.size - 1 - i).as("prio"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    // positive-gate, not a <=0 check: with NULL text every score is null,
    // `null <= 0` is null, and the otherwise-arm would hand a null
    // document to the tie-break winner ("de") instead of "und"
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality score in [0,1]: blends length band, mean word length sanity,
    * alpha ratio, and repetition (distinct-word ratio) — the standard cheap
    * pretraining-quality heuristics.
    */
  def qualityScore(text: Column): Column = {
    val words = split(trim(text), "\\s+")
    val nWords = size(words).cast("double")
    val nChars = length(text).cast("double")
    val meanWordLen = nChars / greatest(nWords, lit(1.0))
    val distinctRatio = size(array_distinct(words)).cast("double") / greatest(nWords, lit(1.0))
    val alphaRatio = (length(regexp_replace(text, "[^\\p{L}\\p{Nd}\\s]", "")) .cast("double")) /
      greatest(nChars, lit(1.0))
    // over-long docs degrade as 100000/n (the otherwise-arm alone would
    // be n/10 > 1 for long docs and the least() cap below would hand
    // them full score — the upper band was dead code)
    val lenScore = when(nWords.between(10, 100000), lit(1.0))
      .when(nWords > 100000, lit(100000.0) / nWords)
      .otherwise(nWords / lit(10.0))
    val wordLenScore = when(meanWordLen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.25))
    round(least(lenScore, lit(1.0)) * lit(0.25) +
      wordLenScore * lit(0.25) +
      least(alphaRatio, lit(1.0)) * lit(0.25) +
      least(distinctRatio * lit(2.0), lit(1.0)) * lit(0.25), 4)
  }
}
