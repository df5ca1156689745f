package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.log.{FileNames, LogStore}

/** Fault-injection store, plugged in through `spark.graft.logStore.impl`:
  * inside a [[FaultyLogStore.failing]] block every log write, put-if-absent
  * or overwrite, whose path matches the block's predicate throws — the
  * shape of a transient filesystem error. Inside a
  * [[FaultyLogStore.beforeEachCommit]] block a callback runs before each
  * commit file write, e.g. to commit a concurrent winner just ahead of it. */
class FaultyLogStore(conf: Configuration) extends LogStore(conf) {
  override def write(path: Path, chunks: Iterator[String]): Unit = {
    FaultyLogStore.check(path)
    super.write(path, chunks)
  }

  override def writeOverwrite(path: Path)(
      body: java.io.OutputStream => Unit): Unit = {
    FaultyLogStore.check(path)
    super.writeOverwrite(path)(body)
  }
}

object FaultyLogStore {
  @volatile private var failWhen: Path => Boolean = _ => false
  @volatile private var beforeWrite: Path => Unit = _ => ()

  private def check(path: Path): Unit = {
    beforeWrite(path)
    if (failWhen(path))
      throw new java.io.IOException(s"injected store failure: $path")
  }

  /** Run `body` with this store behind every table it opens first. */
  def installed[T](spark: SparkSession)(body: => T): T = {
    spark.conf.set("spark.graft.logStore.impl", classOf[FaultyLogStore].getName)
    try body finally spark.conf.unset("spark.graft.logStore.impl")
  }

  /** Run `body` with every write to a path matching `pred` failing. */
  def failing[T](pred: Path => Boolean)(body: => T): T = {
    failWhen = pred
    try body finally failWhen = _ => false
  }

  /** Run `body` with `hook` called with the version before every write of
    * a commit file, except the commits `hook` makes itself: a hook that
    * commits a concurrent winner is not called again for the winner. */
  def beforeEachCommit[T](hook: Long => Unit)(body: => T): T = {
    var inHook = false
    beforeWrite = p =>
      FileNames.deltaVersion(p.getName).filterNot(_ => inHook).foreach { v =>
        inHook = true
        try hook(v) finally inHook = false
      }
    try body finally beforeWrite = _ => ()
  }
}
