package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.InvertedIndex
import graft.sync.IncrementalView
import Inputs._

/** The serve side of `sync_ingest`: the search requests and view key reads
  * a client issues against the index and view the nightly sync maintains,
  * and a driver-side model of the corpus that answers each of them for the
  * output checks. */
object Serve {
  val K = 10

  /** The request's DataFrame; `cursor` (score, doc) is used by `after`
    * requests only. */
  def request(spark: SparkSession, index: String, view: String, q: Req,
      cursor: (Long, Long)): DataFrame = q match {
    case Bm25(ts) => InvertedIndex.bm25(spark, index, ts, K)
    case And(ts) => InvertedIndex.conjunctive(spark, index, ts)
    case Phrase(Seq(a, b)) => InvertedIndex.phrase(spark, index, a, b)
    case Phrase(ts) => InvertedIndex.phraseN(spark, index, ts)
    case After(ts) =>
      val (score, doc) = cursor
      InvertedIndex.searchAfter(spark, index, ts, K, score, doc)
    case Wildcard(p) => InvertedIndex.wildcard(spark, index, p)
    case Fuzzy(t) => InvertedIndex.fuzzy(spark, index, t, maxEdits = 1)
    case Mlt(d) => InvertedIndex.moreLikeThis(spark, index, d, 3, K)
    case ViewKey(k) => IncrementalView.read(spark, view).where(col("event_type") === k)
      .select("event_type", "user_id", "mv_n", "mv_s").orderBy("user_id")
  }

  /** Response rows as plain values (decimals as Scala BigDecimal). */
  def norm(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.math.BigDecimal => BigDecimal(d)
    case v => v
  }

  def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Driver-side model of the corpus that answers every request kind
    * directly from the tokens, with the index's scoring arithmetic. */
  final class Corpus(docs: IndexedSeq[Array[String]], events: Seq[Row]) {
    private val tf: IndexedSeq[Map[String, Int]] =
      docs.map(_.groupBy(identity).map { case (t, xs) => t -> xs.length })
    val df: Map[String, Long] =
      tf.flatMap(_.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val dfList: Seq[(String, Long)] = df.toSeq.sortBy(_._1)
    private val n = docs.size.toDouble
    private val avgdl = docs.map(_.length.toLong).sum.toDouble / n

    private def scored(terms: Seq[String]): Seq[(Long, Long, Long)] = {
      val ts = terms.distinct.filter(df.contains)
      docs.indices.flatMap { d =>
        val s = ts.flatMap { t =>
          tf(d).get(t).map { f =>
            val (tfd, dfd, dl) = (f.toDouble, df(t).toDouble, docs(d).length.toDouble)
            val idf = ((n - dfd) + 0.5) / (dfd + 0.5)
            val tfp = (tfd * 2.2) / (tfd + 1.2 * (0.25 + (0.75 * dl) / avgdl))
            math.floor(idf * tfp * 1e6).toLong
          }
        }
        if (s.isEmpty) None else Some((d.toLong, s.size.toLong, s.sum))
      }.sortBy { case (d, _, sc) => (-sc, d) }
    }

    def cursor(terms: Seq[String]): (Long, Long) = {
      val page = scored(terms).take(K)
      page.lastOption.fold((Long.MaxValue, -1L))(p => (p._3, p._1))
    }

    private def termSet(expanded: Seq[String]): Seq[Seq[Any]] =
      docs.indices.flatMap { d =>
        val m = expanded.flatMap(tf(d).get)
        if (m.isEmpty) None else Some(Seq[Any](d.toLong, m.size.toLong, m.map(_.toLong).sum))
      }

    private def occurrences(terms: Seq[String]): Seq[Seq[Any]] =
      docs.indices.flatMap { d =>
        val toks = docs(d)
        val c = (0 to toks.length - terms.length).count(p => terms.indices.forall(j => toks(p + j) == terms(j)))
        if (c == 0) None else Some(Seq[Any](d.toLong, c.toLong))
      }

    def answer(q: Req): Seq[Seq[Any]] = q match {
      case Bm25(ts) => scored(ts).take(K).map(t => Seq[Any](t._1, t._2, t._3))
      case After(ts) =>
        val (score, doc) = cursor(ts)
        scored(ts).filter(t => t._3 < score || (t._3 == score && t._1 > doc)).take(K)
          .map(t => Seq[Any](t._1, t._2, t._3))
      case And(ts) =>
        val u = ts.distinct
        docs.indices.filter(d => u.forall(tf(d).contains)).map(d =>
          Seq[Any](d.toLong, u.size.toLong, u.map(tf(d)(_).toLong).sum))
      case Phrase(ts) => occurrences(ts)
      case Wildcard(p) => termSet(dfList.map(_._1).filter(_.startsWith(p)))
      case Fuzzy(t) => termSet(dfList.map(_._1).filter(levenshtein(_, t) <= 1))
      case Mlt(d) =>
        val terms = tf(d.toInt).toSeq.sortBy { case (t, f) => (-f, t) }.take(3).map(_._1)
        scored(terms).filter(_._1 != d).take(K).map(t => Seq[Any](t._1, t._2, t._3))
      case ViewKey(k) =>
        events.filter(_.getString(3) == k).groupBy(_.getLong(2)).toSeq.sortBy(_._1).map {
          case (u, rs) => Seq[Any](k, u, rs.size.toLong,
            rs.map(r => BigDecimal(r.getDouble(4)).setScale(2)).sum)
        }
    }
  }
}
