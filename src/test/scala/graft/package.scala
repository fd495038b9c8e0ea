import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{ArrayOps, PortableRound}
import graft.operators.{Multimodal, TextAnalysis}

/** Parity twins for the specs in `graft`: the composed forms that
  * native expressions replaced in main, kept beside the specs as the
  * references those specs pin the native forms against. Each twin
  * extends its operator's object, so a spec calls it as
  * `TextAnalysis.qualityScoreComposed(...)`. */
package object graft {

  implicit class TextAnalysisTwins(private val textAnalysis: TextAnalysis.type) {

    /** The three-pass composition [[TextAnalysis.qualityScore]]
      * replaced (tokenize ×3 + interpreted stopword filter). */
    def qualityScoreComposed(text: Column): Column = {
      val n = TextAnalysis.tokenCount(text).cast("double")
      val lengthScore = least(lit(1.0), n / lit(100.0))
      val diversity = TextAnalysis.distinctTokenCount(text).cast("double") / n
      val stopDensity = least(lit(1.0),
        TextAnalysis.wordHits(text, TextAnalysis.stopwords("en")).cast("double") / n * lit(5.0))
      PortableRound.round4(lit(0.4) * lengthScore + lit(0.3) * diversity + lit(0.3) * stopDensity)
    }
  }

  implicit class MultimodalTwins(private val multimodal: Multimodal.type) {

    /** Composed-functions form of [[Multimodal.stubFeaturesMicro]], the
      * reference for the native [[graft.functions.CharWindowSums]]. The
      * decoded code array is let-bound (ArrayOps.bind); un-bound, the
      * per-char split+ascii subtree re-evaluates once per window. */
    def stubFeaturesMicroComposed(payload: Column, dim: Int): Column =
      ArrayOps.bind(
        transform(split(payload.cast("string"), ""),
          c => ascii(c).cast("long"))) { codes =>
        val n = length(payload.cast("string"))
        val w = greatest(lit(1), floor(n / lit(dim)).cast("int"))
        transform(sequence(lit(0), lit(dim - 1)), j => {
          val from = j * w
          val len = greatest(least(from + w, n) - from, lit(0))
          when(len > 0,
            aggregate(slice(codes, from + lit(1), len), lit(0L),
              (acc, x) => acc + x))
            .otherwise(lit(0L))
        })
      }
  }
}
