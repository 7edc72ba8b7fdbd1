package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark-engine counters for one traced operation. */
final case class EngineCounts(jobs: Long, tasks: Long, cpuNs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long) {
  def +(o: EngineCounts): EngineCounts = EngineCounts(jobs + o.jobs,
    tasks + o.tasks, cpuNs + o.cpuNs, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, gcMs + o.gcMs)
}
object EngineCounts { val zero: EngineCounts = EngineCounts(0, 0, 0, 0, 0, 0) }

/** A `SparkListener` attached only around traced operations. Untraced
  * operations run with no benchmark listener on the bus. */
final class EngineListener extends SparkListener {
  private val jobs, tasks, cpuNs, shuffle, spill, gc = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gc.addAndGet(m.jvmGCTime)
    }
  }
  def counts: EngineCounts =
    EngineCounts(jobs.get, tasks.get, cpuNs.get, shuffle.get, spill.get, gc.get)
}

object Trace {
  /** Runs `body` with a fresh listener attached when `traced`; returns the
    * body's value, its wall seconds and the engine counts (zero when
    * untraced). The bus is drained before attaching and before reading, so
    * the counts cover exactly this call. */
  def around[T](sc: SparkContext, traced: Boolean)(body: => T): (T, Double, EngineCounts) = {
    if (!traced) {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9, EngineCounts.zero)
    } else {
      Bus.drain(sc)
      val l = new EngineListener
      sc.addSparkListener(l)
      try {
        val t0 = System.nanoTime()
        val v = body
        val wall = (System.nanoTime() - t0) / 1e9
        Bus.drain(sc)
        (v, wall, l.counts)
      } finally sc.removeSparkListener(l)
    }
  }

  /** Cached plus checkpointed storage currently held, in MB. */
  def pinnedMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}
