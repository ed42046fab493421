package graft.tools

import graft.corpus.TranscriptGen
import graft.oracle.Oracle
import graft.semantics._

/** Scratch diagnostics for the M0 gates — not part of the driver contract. */
object DevCheck {
  def main(args: Array[String]): Unit = {
    if (args.contains("probe")) { probe(); return }
    if (args.contains("flagship")) { flagshipProfile(); return }
    val corpus = TranscriptGen.corpus(60)
    val train = corpus.filterNot(lt => TranscriptGen.isEval(lt.turn.conv_id.drop(1).toLong))
    val eval = corpus.filter(lt => TranscriptGen.isEval(lt.turn.conv_id.drop(1).toLong))
    val model = Oracle.trainNer(train)

    val tagged = Oracle.tag(eval, model)
    var shownFn = 0; var shownFp = 0
    for ((lt, ms) <- tagged) {
      val predSet = ms.map(m => (m.start, m.end, m.tag)).toSet
      val goldSet = lt.gold.map(m => (m.start, m.end, m.tag)).toSet
      for (g <- lt.gold if !predSet.contains((g.start, g.end, g.tag)) && shownFn < 20) {
        shownFn += 1
        println(s"FN [${g.tag}] '${g.value}' in: ${lt.turn.text}")
        println(s"   predicted: ${ms.map(m => s"'${m.value}'/${m.tag}").mkString(", ")}")
      }
      for (p <- ms if !goldSet.contains((p.start, p.end, p.tag)) && shownFp < 20) {
        shownFp += 1
        println(s"FP [${p.tag}] '${p.value}' in: ${lt.turn.text}")
      }
    }

    println("---- bad merges ----")
    val comps = Oracle.components(corpus.flatMap(_.gold.map(m => (m.value, m.tag))))
    val surfToEntity = TranscriptGen.entities.flatMap(e => e.surfaces.map(s => Linker.normalize(s) -> e.id)).toMap
    for (p <- comps) {
      val ids = p.flatMap(surfToEntity.get)
      if (ids.size > 1) println(s"MERGE ids=$ids surfaces=$p")
    }
  }

  /** Per-stage wall breakdown of the flagship job at bench scale —
    * finds which stage dominates kg_flagship_build (dev-only).
    */
  def flagshipProfile(): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[flagship] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val nConvs = graft.pipeline.Transcripts.convsForSfDir("/root/testdata/sf0.1")
    val labeled = graft.pipeline.Transcripts.generateLabeled(spark, nConvs).cache()
    t("generate+cache")(labeled.count())
    val model = t("train")(graft.pipeline.NerTraining.trainModel(
      graft.pipeline.Transcripts.trainSplit(labeled)))
    val bc = spark.sparkContext.broadcast(model)
    val turns = graft.pipeline.LabeledRow.turns(labeled)
    val tagged = graft.pipeline.KgPipeline.tagTurns(turns, bc).cache()
    t("tag+cache")(tagged.count())
    val out = t("link+resolve plan")(graft.pipeline.KgPipeline.runTagged(spark, tagged))
    t("tagged recount (cache read)")(tagged.count())
    t("mentions count")(out.mentions.count())
    t("triples count")(out.triples.count())
    t("nodes count (cached)")(out.nodes.count())
    t("components count")(out.components.count())
    t("resolvedTriples count")(out.resolvedTriples.cache().count())
    t("entities count")(out.entities.count())
    t("resolvedTriples recount (cache read)")(out.resolvedTriples.count())
    spark.stop()
  }

  /** Edge-case probes: empty corpus, surrogate pairs, garbage input. */
  def probe(): Unit = {
    val empty = Oracle.runKg(0)
    println(s"PROBE empty corpus: mentions=${empty.mentions.size} triples=${empty.triples.size} canonical=${empty.canonical.size}")
    val emoji = "Alice Smithson 😀 visited Green River Valley 🌍 today."
    val toks = Tokenizer.tokenize(emoji)
    val spansOk = toks.forall(t => emoji.substring(t.start, t.end) == t.value)
    println(s"PROBE surrogate pairs: tokens=${toks.length} spansReconstruct=$spansOk")
    val ms = StringTagger.tag(emoji)
    println(s"PROBE tagger with emoji: ${ms.map(m => s"'${m.value}'").mkString(", ")}")
    println(s"PROBE tokenizer null/empty: ${Tokenizer.tokenize(null).length}/${Tokenizer.tokenize("").length}")
    println(s"PROBE dates garbage: ${Seq("99/99/9999", "0000", "Jul 32, 2021", "").map(DateParser.parse(_).isDefined)}")
    println(s"PROBE stemmer unicode passthrough: ${PorterStemmer.stem("Übungen")}")
    val longTok = "x" * 100000
    println(s"PROBE 100k-char single token: ${Tokenizer.tokenize(longTok).length} token(s)")
    println(s"PROBE classify with empty model: ${Classify("anything", DictModel(Map.empty, Map.empty, Map.empty, 0), FeatureSetting.wordDefault, DefaultScorer)}")
  }
}
