package perfbench

import java.lang.management.ManagementFactory

import graft.NewsUrl
import graft.crawl.PageParse
import graft.synth.WebGen

/** Standalone extraction cost: a single-thread `PageParse.parse` loop
  * over a fixed sample of WebGen pages (every 10th of a 20,000-page
  * web), after two warm-up passes.
  */
object Extract {
  private val web = WebGen.Config(nPages = 20000, nHosts = 8)
  private lazy val sample: Seq[(String, Array[Byte])] =
    (0L until web.nPages by 10L).map { i =>
      val (url, _, html, _, _) = WebGen.rowAt(web, i)
      (url, html)
    }

  def report(r: Report): Unit = r.spans("PageParse.parse") {
    def pass(): Long = sample.foldLeft(0L) { case (n, (u, h)) =>
      n + PageParse.parse(h, u, NewsUrl.isNewsUrl(u)).links.size
    }
    pass(); pass()
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val a0 = mx.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    val links = pass()
    val ns = System.nanoTime() - t0
    val alloc = mx.getThreadAllocatedBytes(tid) - a0
    r.check(links > 0, "extract sample yielded no links")
    r.layer("extract.us_per_page", ns / 1000.0 / sample.size, "us")
    r.layer("extract.alloc_bytes_per_page", alloc.toDouble / sample.size, "bytes")
  }
}
