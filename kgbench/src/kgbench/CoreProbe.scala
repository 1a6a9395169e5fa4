package kgbench

import java.lang.management.ManagementFactory

import graft.core._
import graft.pipeline.KgPipeline

/** Pure-JVM per-layer timing of `graft.core` over a sample of generated
  * pages: each layer is timed around its public entry point, on one thread,
  * in the order `DocProcessor.process` calls them. Timings are per page,
  * the median of `repeats` passes over the sample; counts are per page. */
object CoreProbe {

  private final class Acc {
    var extract, tokenize, viterbi, spans, link, spo = 0L
    var tokens, mentions, candidates, linked, triples = 0L
  }

  private def stagedPass(htmls: Array[Array[Byte]],
      model: KgPipeline.Model): Acc = {
    val a = new Acc
    val scratch = new NerModel.Scratch
    htmls.foreach { html =>
      var t = System.nanoTime()
      val sents = HtmlText.extractSentences(html)
      var u = System.nanoTime(); a.extract += u - t
      sents.foreach { s =>
        t = System.nanoTime()
        val toks = Tokenizer.tokenize(s)
        val words: IndexedSeq[String] = toks.map(_.text)
        u = System.nanoTime(); a.tokenize += u - t; t = u
        val tags: IndexedSeq[String] =
          scala.collection.immutable.ArraySeq.unsafeWrapArray(
            NerModel.tagArray(words, model.gaz, scratch))
        u = System.nanoTime(); a.viterbi += u - t; t = u
        val sp = BioSpans.toSpans(toks, tags)
        u = System.nanoTime(); a.spans += u - t; t = u
        val linked = sp.map { m =>
          val cands = model.aliasMap.getOrElse(m.surface, Vector.empty)
          a.candidates += cands.length
          var best = -1L
          var bestScore = Double.NegativeInfinity
          cands.foreach { case (id, prior) =>
            val sc = Linking.overlapScore(prior, FixtureGen.profileWords(id),
              words, m.beginTok, m.endTok)
            if (best < 0 || sc > bestScore || (sc == bestScore && id < best)) {
              bestScore = sc; best = id
            }
          }
          best
        }
        u = System.nanoTime(); a.link += u - t; t = u
        val cands = SpoPatterns.extract(toks, sp)
        u = System.nanoTime(); a.spo += u - t
        a.tokens += toks.length
        a.mentions += sp.length
        a.linked += linked.count(_ >= 0)
        a.triples += cands.count(c => linked(c.subjIdx) >= 0 &&
          linked(c.objIdx) >= 0)
      }
    }
    a
  }

  /** Metric name → value, for pages `firstId until firstId + n`. */
  def run(firstId: Long, n: Int, repeats: Int): Seq[(String, Double)] = {
    val htmls = Array.tabulate(n)(i => FixtureGen.page(firstId + i).html)
    val model = KgPipeline.fixtureModel()
    val proc = new DocProcessor(model.gaz, model.aliasMap,
      FixtureGen.profileWords)
    val threads = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    // one untimed pass warms the JIT for both the staged and the fused path
    stagedPass(htmls, model)
    htmls.foreach(proc.process)
    val staged = (1 to repeats).map(_ => stagedPass(htmls, model))
    val fused = (1 to repeats).map { _ =>
      val b0 = threads.getThreadAllocatedBytes(tid)
      val t0 = System.nanoTime()
      var triples = 0L
      htmls.foreach(h => triples += proc.process(h).triples.length)
      (System.nanoTime() - t0, threads.getThreadAllocatedBytes(tid) - b0,
        triples)
    }
    def us(f: Acc => Long): Double =
      Trace.median(staged.map(a => f(a) / 1000.0 / n))
    val a = staged.head
    require(fused.head._3 == a.triples,
      s"staged layers found ${a.triples} triples, DocProcessor.process " +
        s"${fused.head._3}")
    Seq(
      "core.extract_us" -> us(_.extract),
      "core.tokenize_us" -> us(_.tokenize),
      "core.viterbi_us" -> us(_.viterbi),
      "core.spans_us" -> us(_.spans),
      "core.link_us" -> us(_.link),
      "core.spo_us" -> us(_.spo),
      "core.docproc_us" -> Trace.median(fused.map(_._1 / 1000.0 / n)),
      "core.alloc_kb" -> Trace.median(fused.map(_._2 / 1024.0 / n)),
      "core.tokens" -> a.tokens.toDouble / n,
      "core.mentions" -> a.mentions.toDouble / n,
      "core.candidates_per_mention" ->
        (if (a.mentions == 0) 0.0 else a.candidates.toDouble / a.mentions),
      "core.linked_ratio" ->
        (if (a.mentions == 0) 0.0 else a.linked.toDouble / a.mentions),
      "core.triples" -> a.triples.toDouble / n)
  }
}
