package graft.semantics

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants (SURVEY.md §5.2 item 4) — native ScalaCheck
  * Properties (the scalatest bridge artifact is not in the offline
  * cache; sbt runs ScalaCheck Properties directly).
  */
object PropertySpec extends Properties("semantics") {

  private val textGen: Gen[String] = for {
    words <- Gen.listOfN(12, Gen.oneOf(
      "alice", "Alice", "NASA", "iPhone", "the", "visited", "3.14", "e.g.",
      "Green", "River", "don't", "state-of-the-art", "https://x.io/a", "1998",
      ",", ".", "!", "😀", "C.", "Häuser"))
    sep <- Gen.oneOf(" ", "  ", " \t ")
  } yield words.mkString(sep)

  property("tokenizer spans in-bounds, ordered, reconstruct values") =
    forAll(textGen) { text =>
      val toks = Tokenizer.tokenize(text)
      val inBounds = toks.forall(t =>
        t.start >= 0 && t.end <= text.length && t.start < t.end &&
          text.substring(t.start, t.end) == t.value)
      val ordered = toks.toSeq.sliding(2).forall {
        case Seq(a, b) => a.end <= b.start
        case _ => true
      }
      inBounds && ordered
    }

  property("sentence spans reconstruct and are ordered") =
    forAll(textGen) { text =>
      val ss = SentenceSplitter.split(text)
      ss.forall(s => text.substring(s.start, s.end) == s.text) &&
        ss.toSeq.sliding(2).forall {
          case Seq(a, b) => a.end <= b.start
          case _ => true
        }
    }

  property("char ngram count law") =
    forAll(Gen.alphaStr.map(_.take(40)), Gen.choose(1, 5)) { (s, k) =>
      NGrams.charNGrams(s, k, k).length == math.max(0, s.length - k + 1)
    }

  private val mentionGen = for {
    start <- Gen.choose(0, 50)
    len <- Gen.choose(1, 10)
    tag <- Gen.oneOf("A", "B")
  } yield Mention(start, start + len, "x" * len, tag, 1.0)

  property("overlap removal idempotent, output non-nested") =
    forAll(Gen.listOf(mentionGen)) { ms =>
      val once = StringTagger.removeOverlaps(ms.toArray)
      val twice = StringTagger.removeOverlaps(once)
      val nonNested = once.toSeq.sliding(2).forall {
        case Seq(a, b) => !(b.start >= a.start && b.end <= a.end)
        case _ => true
      }
      once.toSeq == twice.toSeq && nonNested
    }

  private val shortStr = Gen.alphaStr.map(_.take(15))

  property("levenshtein is a metric") =
    forAll(shortStr, shortStr, shortStr) { (a, b, c) =>
      Similarity.levenshtein(a, a) == 0 &&
        Similarity.levenshtein(a, b) == Similarity.levenshtein(b, a) &&
        Similarity.levenshtein(a, c) <=
          Similarity.levenshtein(a, b) + Similarity.levenshtein(b, c)
    }

  private val surfGen = Gen.oneOf("alice smithson", "a smithson",
    "quantum data labs", "qdl", "green river", "green river valley",
    "isense", "isnse", "naro")

  property("linker match symmetric + reflexive") =
    forAll(surfGen, surfGen) { (a, b) =>
      Linker.isMatch(a, a) && Linker.isMatch(a, b) == Linker.isMatch(b, a)
    }

  property("normalization idempotent") =
    forAll(textGen) { s =>
      val n = StringOps.normalizeSurface(s)
      StringOps.normalizeSurface(n) == n &&
        StringOps.clean(StringOps.clean(s)) == StringOps.clean(s)
    }

  property("classifier probabilities sum to 1") = {
    val docGen = Gen.listOfN(6, Gen.zip(Gen.alphaStr.suchThat(_.nonEmpty), Gen.oneOf("a", "b")))
    forAll(docGen) { docs =>
      val fs = FeatureSetting(charGrams = true, 2, 3, 100)
      val model = DictModel.train(docs, fs)
      val probs = Classify.normalize(
        DefaultScorer.score(NGrams.terms("test text", fs), model), logSpace = false)
      Prop(probs.isEmpty || math.abs(probs.values.sum - 1.0) < 1e-6)
    }
  }

  property("prng generation is pure per (conv, turn)") =
    forAll(Gen.choose(0L, 5000L)) { conv =>
      val a = graft.corpus.TranscriptGen.turnsForConv(conv)
      val b = graft.corpus.TranscriptGen.turnsForConv(conv)
      a.map(_.turn) == b.map(_.turn) &&
        a.flatMap(_.gold.toSeq) == b.flatMap(_.gold.toSeq)
    }

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[1]")
    .appName("properties")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Surfaces mixing BMP text with supplementary (non-BMP) characters. */
  private val nonBmpSurface: Gen[String] =
    Gen.listOfN(4, Gen.oneOf("acme", "Zoë", "😀", "𝔘𝔫𝔦𝔱", "𠀋x", "data", "a😀b", "labs", "𝟙𝟚𝟛"))
      .map(_.mkString(" "))

  // the gazetteer scores candidates with column arithmetic over
  // code-point trigrams; Similarity.ngramSim uses UTF-16 char trigrams.
  // They agree only because normalizeSurface leaves no surrogate pair
  // behind — pinned here on the non-BMP input where they could differ
  property("gazetteer trigram Jaccard == ngramSim on normalized non-BMP surfaces") =
    forAll(nonBmpSurface, nonBmpSurface) { (a, b) =>
      import org.apache.spark.sql.functions.col
      import graft.pipeline.Gazetteer.{trigramJaccard, trigramSet}
      val (na, nb) = (StringOps.normalizeSurface(a), StringOps.normalizeSurface(b))
      val session = spark
      import session.implicits._
      val sim = Seq((na, nb)).toDF("a", "b")
        .select(trigramJaccard(trigramSet(col("a")), trigramSet(col("b"))))
        .first().getDouble(0)
      Prop(sim == Similarity.ngramSim(na, nb)) :| s"'$na' vs '$nb': column $sim"
    }
}
