package perfbench

/** Two workloads run as one mix: each block is a block of `a` followed
  * by a block of `b`, so both advance together and every block holds
  * each kind of both once. Their kinds must differ.
  */
final class Mixed(a: Workload, b: Workload) extends Workload {
  /** One: each part's set-up builds its tables from nothing. */
  val setupReps = 1
  def setup(rep: Int): Unit = { a.setup(rep); b.setup(rep) }
  def warmup(): Unit = { a.warmup(); b.warmup() }

  override def blockSize: Int = a.blockSize + b.blockSize
  def op(i: Int): Op = {
    val (block, pos) = (i / blockSize, i % blockSize)
    if (pos < a.blockSize) a.op(block * a.blockSize + pos)
    else b.op(block * b.blockSize + pos - a.blockSize)
  }

  def check(): Seq[String] = a.check() ++ b.check()
  def tableDirs: Seq[String] = a.tableDirs ++ b.tableDirs
  def writeCompact(dst: String): Unit = { a.writeCompact(s"$dst/a"); b.writeCompact(s"$dst/b") }
  override def layerExtras(opMs: Seq[(String, Double)]): Map[String, Double] =
    a.layerExtras(opMs) ++ b.layerExtras(opMs)
}
