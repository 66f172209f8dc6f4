package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The classic Porter stemming algorithm (M.F. Porter, "An algorithm for
  * suffix stripping", Program 14(3), 1980) — a from-scratch Scala
  * implementation of the published rules.
  *
  * The reference stems every token before vocab lookup via its vendored
  * snowball stemmer (locationTopicModelTopology TweetIndexBolt.java:172-186,
  * jar:ckling.text.Text with SnowballStemmer). Bit-parity with that jar is
  * not a goal (it is unversioned binary-only); parity with the published
  * algorithm is. Pure function of its input — safe inside a UDF at any
  * parallelism.
  */
object PorterStemmer {

  /** m(): the "measure" — number of VC sequences in [C](VC)^m[V]. */
  private def measure(w: String): Int = {
    var n = 0
    var i = 0
    val len = w.length
    while (i < len && isConsonant(w, i)) i += 1
    while (i < len) {
      while (i < len && !isConsonant(w, i)) i += 1
      if (i < len) {
        n += 1
        while (i < len && isConsonant(w, i)) i += 1
      }
    }
    n
  }

  private def isConsonant(w: String, i: Int): Boolean = w.charAt(i) match {
    case 'a' | 'e' | 'i' | 'o' | 'u' => false
    case 'y' => i == 0 || !isConsonant(w, i - 1)
    case _ => true
  }

  private def containsVowel(w: String): Boolean =
    (0 until w.length).exists(i => !isConsonant(w, i))

  private def endsDoubleConsonant(w: String): Boolean =
    w.length >= 2 && w.charAt(w.length - 1) == w.charAt(w.length - 2) &&
      isConsonant(w, w.length - 1)

  /** *o: stem ends cvc where the final c is not w, x or y. */
  private def endsCvc(w: String): Boolean =
    w.length >= 3 &&
      isConsonant(w, w.length - 3) && !isConsonant(w, w.length - 2) &&
      isConsonant(w, w.length - 1) &&
      !Set('w', 'x', 'y').contains(w.charAt(w.length - 1))

  /** Replace `suffix` by `repl` when the remaining stem satisfies `cond`;
    * returns None when the suffix doesn't match (try the next rule),
    * Some(word-unchanged) when it matches but the condition fails (rule
    * consumed — Porter's longest-match-then-test semantics). */
  private def rule(w: String, suffix: String, repl: String,
      cond: String => Boolean): Option[String] =
    if (!w.endsWith(suffix)) None
    else {
      val stem = w.substring(0, w.length - suffix.length)
      Some(if (cond(stem)) stem + repl else w)
    }

  private def firstRule(w: String,
      rules: Seq[(String, String, String => Boolean)]): String =
    rules.iterator.flatMap { case (s, r, c) => rule(w, s, r, c) }
      .nextOption().getOrElse(w)

  private val always: String => Boolean = _ => true
  private def mGt(n: Int): String => Boolean = s => measure(s) > n

  private def step1a(w: String): String =
    firstRule(w, Seq(
      ("sses", "ss", always), ("ies", "i", always),
      ("ss", "ss", always), ("s", "", always)))

  private def step1b(w: String): String = {
    if (w.endsWith("eed")) {
      val stem = w.substring(0, w.length - 3)
      return if (measure(stem) > 0) stem + "ee" else w
    }
    val stripped =
      if (w.endsWith("ed") && containsVowel(w.substring(0, w.length - 2)))
        Some(w.substring(0, w.length - 2))
      else if (w.endsWith("ing") && containsVowel(w.substring(0, w.length - 3)))
        Some(w.substring(0, w.length - 3))
      else None
    stripped match {
      case None => w
      case Some(s) =>
        if (s.endsWith("at") || s.endsWith("bl") || s.endsWith("iz")) s + "e"
        else if (endsDoubleConsonant(s) &&
          !Set('l', 's', 'z').contains(s.charAt(s.length - 1)))
          s.substring(0, s.length - 1)
        else if (measure(s) == 1 && endsCvc(s)) s + "e"
        else s
    }
  }

  private def step1c(w: String): String =
    if (w.endsWith("y") && containsVowel(w.substring(0, w.length - 1)))
      w.substring(0, w.length - 1) + "i"
    else w

  private def step2(w: String): String =
    firstRule(w, Seq(
      ("ational", "ate", mGt(0)), ("tional", "tion", mGt(0)),
      ("enci", "ence", mGt(0)), ("anci", "ance", mGt(0)),
      ("izer", "ize", mGt(0)), ("abli", "able", mGt(0)),
      ("alli", "al", mGt(0)), ("entli", "ent", mGt(0)),
      ("eli", "e", mGt(0)), ("ousli", "ous", mGt(0)),
      ("ization", "ize", mGt(0)), ("ation", "ate", mGt(0)),
      ("ator", "ate", mGt(0)), ("alism", "al", mGt(0)),
      ("iveness", "ive", mGt(0)), ("fulness", "ful", mGt(0)),
      ("ousness", "ous", mGt(0)), ("aliti", "al", mGt(0)),
      ("iviti", "ive", mGt(0)), ("biliti", "ble", mGt(0))))

  private def step3(w: String): String =
    firstRule(w, Seq(
      ("icate", "ic", mGt(0)), ("ative", "", mGt(0)),
      ("alize", "al", mGt(0)), ("iciti", "ic", mGt(0)),
      ("ical", "ic", mGt(0)), ("ful", "", mGt(0)), ("ness", "", mGt(0))))

  private def step4(w: String): String =
    firstRule(w, Seq(
      ("al", "", mGt(1)), ("ance", "", mGt(1)), ("ence", "", mGt(1)),
      ("er", "", mGt(1)), ("ic", "", mGt(1)), ("able", "", mGt(1)),
      ("ible", "", mGt(1)), ("ant", "", mGt(1)), ("ement", "", mGt(1)),
      ("ment", "", mGt(1)), ("ent", "", mGt(1)),
      ("ion", "", s => measure(s) > 1 &&
        (s.endsWith("s") || s.endsWith("t"))),
      ("ou", "", mGt(1)), ("ism", "", mGt(1)), ("ate", "", mGt(1)),
      ("iti", "", mGt(1)), ("ous", "", mGt(1)), ("ive", "", mGt(1)),
      ("ize", "", mGt(1))))

  private def step5a(w: String): String =
    if (w.endsWith("e")) {
      val stem = w.substring(0, w.length - 1)
      val m = measure(stem)
      if (m > 1 || (m == 1 && !endsCvc(stem))) stem else w
    } else w

  private def step5b(w: String): String =
    if (measure(w) > 1 && endsDoubleConsonant(w) && w.endsWith("l"))
      w.substring(0, w.length - 1)
    else w

  /** Stem a lower-case word. Words of length <= 2 pass through unchanged
    * (the published algorithm's guard). */
  def stem(word: String): String =
    if (word == null || word.length <= 2) word
    else step5b(step5a(step4(step3(step2(step1c(step1b(step1a(word))))))))
}

/** The `stem_tokens` kernel: Porter-stem every element of a token
  * array, null elements passing through. */
object StemTokens {
  def evalArray(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        out(i) = UTF8String.fromString(
          PorterStemmer.stem(arr.getUTF8String(i).toString))
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
