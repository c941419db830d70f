package graft.perfbench

import graft.Document
import graft.corpus.Corpus
import graft.extract.Extract

/** Host calibration: `Extract.document` on bare threads (no Spark), at 1
  * thread and at 4 threads, taken at the start and the end of every run.
  * A run whose calibration moved between start and end, or sits far from
  * other runs', ran in a noisy window. */
object Calibration {
  private val DocsPerThread = 30
  private val Reps          = 3

  final case class Sample(oneThread: Double, fourThreads: Double) {
    def json: String = Json.obj(Seq("cal1_docs_per_s" -> Json.num(oneThread),
      "cal4_docs_per_s" -> Json.num(fourThreads)))
  }

  /** Inputs for [[sample]]: the workload's own seeded extraction corpus. */
  def inputs(seed: Long): Array[Array[Document]] =
    Array.tabulate(4)(t => Array.tabulate(DocsPerThread)(i => Corpus.input(t.toLong * DocsPerThread + i, seed)))

  /** Docs per second over all threads, median of [[Reps]] timed passes. */
  def docsPerSec(inputs: Array[Array[Document]], threads: Int): Double = {
    val rates = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => inputs(t).foreach(Extract.document))
        th.start(); th
      }
      ts.foreach(_.join())
      threads * DocsPerThread / ((System.nanoTime() - t0) / 1e9)
    }
    Stats.median(rates)
  }

  def sample(inputs: Array[Array[Document]]): Sample =
    Sample(docsPerSec(inputs, 1), docsPerSec(inputs, 4))

  /** One untimed 4-thread pass, so that the first sample of a workload
    * that never runs the kernel is not a measure of the JIT. */
  def warm(inputs: Array[Array[Document]]): Unit = docsPerSec(inputs, 4): Unit
}
