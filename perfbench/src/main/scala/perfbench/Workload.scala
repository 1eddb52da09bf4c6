package perfbench

import java.io.File

/** What a workload reports about one finished run, measured after its
  * timed region.
  */
final case class Outcome(failures: Seq[String], writtenBytes: Long, layer: Map[String, Double])

object Workload {
  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
