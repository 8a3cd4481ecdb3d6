package graft.core

import graft.io.Transcripts
import ParserCommon._

/** Dev microprobe: per-parser allocation (B/turn) and best-of-3 time
  * (µs/turn) of the per-turn engine, with sub-phase allocation breakdowns
  * for the two biggest allocators (competitive, universal).
  * SharedLines+segmentation are precomputed OUTSIDE the measured closure,
  * so each number is the phase alone. For stack samples use the JDK's JFR
  * (`jcmd <pid> JFR.start`, `jfr print`); `engine <seconds>` after `n`
  * skips the probes and only loops `Engine.parseTurn` over the n turns on
  * one thread for that long, a steady target for a stack sampler.
  * Usage: sbt "Test/runMain graft.core.AllocProbe [n] [engine <seconds>]" */
object AllocProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 4000
    val texts = (0L until n.toLong).map(id => Transcripts.payload(42L, id)).toArray
    if (args.length > 2 && args(1) == "engine") {
      val end = System.nanoTime() + args(2).toLong * 1000000000L
      var turns = 0L
      while (System.nanoTime() < end) { Engine.parseTurn("c", 0, texts((turns % n).toInt)); turns += 1 }
      println(s"ENGINE loop: $turns turns")
      return
    }
    val shared = texts.map(t => new SharedLines(t))
    val segs = shared.map(s => Segmentation.segmentShared(s).tables)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def alloc(label: String)(f: Int => Any): Unit = {
      (0 until 500).foreach(f) // warm
      val a0 = mx.getCurrentThreadAllocatedBytes
      var i = 0
      while (i < n) { f(i); i += 1 }
      val a1 = mx.getCurrentThreadAllocatedBytes
      println(f"ALLOC $label%-28s ${(a1 - a0).toDouble / n}%.0f bytes/turn")
    }
    def time(label: String)(f: Int => Any): Unit = {
      (0 until 500).foreach(f)
      var best = Double.MaxValue
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { f(i); i += 1 }
        val dt = (System.nanoTime() - t0) / 1e3 / n
        if (dt < best) best = dt
      }
      println(f"TIME  $label%-28s ${best}%8.2f us/turn")
    }
    // competitive sub-phases
    alloc("comp.full")(i => try CompetitiveParser.parse(shared(i), segs(i)) catch { case _: Exception => Nil })
    alloc("comp.tablesOnly")(i => try CompetitiveParser.parse(new SharedLines(""), segs(i)) catch { case _: Exception => Nil })
    alloc("comp.textOnly")(i => try CompetitiveParser.parse(shared(i), Nil) catch { case _: Exception => Nil })
    alloc("comp.structuredText")(i => CompetitiveParser.parseStructuredText(texts(i)))
    alloc("comp.structShared")(i => CompetitiveParser.parseStructuredTextShared(shared(i)))
    alloc("dedup-sim") { i =>
      val its = try CompetitiveParser.parse(shared(i), Nil) catch { case _: Exception => Nil }
      ParserCommon.dedup(its)
    }
    alloc("comp.tableLine-loop") { i =>
      val s = shared(i)
      s.stripped.zipWithIndex.foreach { case (line, li) =>
        if (s.hasDigit(li)) CompetitiveParser.parseTableLine(line, li)
      }
    }
    // universal sub-phases
    alloc("univ.full")(i => try UniversalCoreParser.parse(shared(i), segs(i)) catch { case _: Exception => Nil })
    alloc("univ.tablesOnly")(i => try UniversalCoreParser.parse(new SharedLines(""), segs(i)) catch { case _: Exception => Nil })
    alloc("univ.textOnly")(i => try UniversalCoreParser.parse(shared(i), Nil) catch { case _: Exception => Nil })
    // shared infra
    alloc("sharedLines")(i => new SharedLines(texts(i)))
    alloc("segment")(i => Segmentation.segmentShared(shared(i)))
    alloc("tableExtractor")(i => try TableExtractor.parse(segs(i)) catch { case _: Exception => Nil })
    alloc("preciseTable")(i => try PreciseTableParser.parse(segs(i)) catch { case _: Exception => Nil })
    alloc("invoice.full")(i => try InvoiceParser.parse(shared(i), segs(i)) catch { case _: Exception => Nil })
    alloc("commercial.full")(i => try CommercialParser.parse(shared(i), segs(i)) catch { case _: Exception => Nil })
    alloc("supplierProfile")(i => try SupplierProfiles.parseWithProfile(texts(i), segs(i)) catch { case _: Exception => Nil })
    // envelope sub-phases (everything parseTurn does beyond the parsers)
    val parserResults = texts.indices.map { i =>
      graft.core.Engine.parserOrder.map(_ => try {
        val items = CompetitiveParser.parse(shared(i), segs(i))
        graft.model.ParserResult("competitive", items, error = false)
      } catch { case _: Exception => graft.model.ParserResult("competitive", Nil, error = true) })
    }
    alloc("env.selectBest")(i => Engine.selectBest(parserResults(i)))
    // the whole-text keyword pass and the envelope fields that read it
    val envKeywords: Int => Any = { i =>
      val found = Engine.textFound(texts(i))
      Engine.documentTypeScores(found)
      Engine.quality(found, segs(i))
      Engine.detectDocumentType(found)
      Engine.needsFallback(texts(i), found, segs(i))
    }
    alloc("env.scores+quality")(envKeywords)
    alloc("env.recommendations")(i => Engine.recommendations(if (i % 2 == 0) "invoice" else "unknown"))
    alloc("ENGINE.full")(i => Engine.parseTurn("c", 0, texts(i)))
    time("sharedLines+segment")(i => Segmentation.segmentShared(new SharedLines(texts(i))))
    time("comp.full")(i => try CompetitiveParser.parse(shared(i), segs(i)) catch { case _: Exception => Nil })
    time("univ.full")(i => try UniversalCoreParser.parse(shared(i), segs(i)) catch { case _: Exception => Nil })
    time("invoice.full")(i => try InvoiceParser.parse(shared(i), segs(i)) catch { case _: Exception => Nil })
    time("commercial.full")(i => try CommercialParser.parse(shared(i), segs(i)) catch { case _: Exception => Nil })
    time("supplierProfile")(i => try SupplierProfiles.parseWithProfile(texts(i), segs(i)) catch { case _: Exception => Nil })
    time("env.scores+quality")(envKeywords)
    time("tableExtractor")(i => try TableExtractor.parse(segs(i)) catch { case _: Exception => Nil })
    time("preciseTable")(i => try PreciseTableParser.parse(segs(i)) catch { case _: Exception => Nil })
    time("ENGINE.full")(i => Engine.parseTurn("c", 0, texts(i)))
  }
}
