package graft.index

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one crash-consistent commit for index directory rewrites (the role
  * of lance's staged transaction, `rust/lance/src/dataset/transaction.rs`:
  * a change is applied in full or not at all).
  *
  *  - **Stage:** a rewrite writes its outputs under `<root>/_stage`
  *    ([[stage]]). The leading underscore hides it from parquet readers,
  *    and no index listing looks inside it.
  *  - **Seal:** [[commit]] writes one record, `_stage/_SEALED`, through
  *    [[ScalarIndex.atomicWrite]]. It lists the ordered [[Step]]s.
  *  - **Roll forward:** every step is idempotent, so the same code
  *    finishes a sealed stage at commit and at recovery ([[recover]]),
  *    however often a crash interrupts it. The record is deleted last.
  *
  * An unsealed stage is a rewrite that died before its commit point. Only a
  * writer ([[stage]]) throws it away; a reader never touches it, since it
  * may be a live writer's stage. A full rebuild throws away any stage
  * ([[discard]]). Roll-forwards of one root are serialized within a JVM;
  * across processes index maintenance is single-writer, as before.
  *
  * Step paths are relative: staged paths to the stage, live paths to the
  * root (`""` is the root itself). */
object StagedSwap {
  sealed trait Step
  /** Rename the live directory aside, rename the staged one in. The aside
    * copy is deleted with the stage. */
  case class Replace(staged: String, live: String) extends Step
  /** Move every file of the staged directory into the live directory,
    * replacing same-named files. */
  case class MoveFiles(staged: String, live: String) extends Step
  /** Delete a retired live file or directory. */
  case class Delete(live: String) extends Step

  private val StageName = "_stage"
  private val SealName = "_SEALED"

  /** Crash-injection seam for the specs (the [[graft.format.GraftTable
    * .DmlTestHooks]] device), a no-op in production. [[commit]] calls it
    * with `before-seal`, `after-seal` and `after-step-<i>`, and a roll
    * forward at recovery calls the step points too. */
  private[graft] object TestHooks {
    @volatile var at: String => Unit = _ => ()
  }

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockOf(root: String): Object =
    locks.computeIfAbsent(new Path(root).toString, _ => new Object)

  /** A writer's fresh stage under `root`: a sealed stage left by a crash is
    * rolled forward first, an unsealed one is thrown away. Returns the
    * stage path; the caller writes its outputs below it. */
  def stage(spark: SparkSession, root: String): String = {
    recover(spark, root)
    val dir = s"$root/$StageName"
    fsOf(spark, root).delete(new Path(dir), true)
    dir
  }

  /** Seal the stage under `root` with `steps`, then roll it forward. */
  def commit(spark: SparkSession, root: String, steps: Seq[Step]): Unit = {
    TestHooks.at("before-seal")
    ScalarIndex.atomicWrite(spark, s"$root/$StageName/$SealName",
      steps.map {
        case Replace(s, l) => s"replace\t$s\t$l"
        case MoveFiles(s, l) => s"move\t$s\t$l"
        case Delete(l) => s"delete\t$l"
      }.mkString("\n"))
    TestHooks.at("after-seal")
    recover(spark, root)
  }

  /** Finish a sealed stage under `root`, if there is one. Safe for readers:
    * an unsealed stage is left alone. Returns whether it rolled forward, so
    * the caller can publish the index's new identity. */
  def recover(spark: SparkSession, root: String): Boolean = {
    val fs = fsOf(spark, root)
    val seal = new Path(s"$root/$StageName/$SealName")
    if (!fs.exists(seal)) return false
    lockOf(root).synchronized {
      // another thread of this JVM may have finished it meanwhile
      val in = try fs.open(seal) catch { case _: java.io.FileNotFoundException => return false }
      val record = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      val stageP = seal.getParent
      def live(rel: String): Path = if (rel.isEmpty) new Path(root) else new Path(root, rel)
      record.split("\n").iterator.filter(_.nonEmpty).map(_.split("\t", -1)).zipWithIndex
        .foreach { case (f, i) =>
          f(0) match {
            case "replace" =>
              val staged = new Path(stageP, f(1))
              if (fs.exists(staged)) {
                val dst = live(f(2))
                if (fs.exists(dst) && !fs.rename(dst, new Path(stageP, s"_aside-$i")))
                  throw new IllegalStateException(s"rename $dst aside failed")
                if (!fs.rename(staged, dst))
                  throw new IllegalStateException(s"rename $staged -> $dst failed")
              }
            case "move" =>
              val staged = new Path(stageP, f(1))
              if (fs.exists(staged)) {
                val dst = live(f(2))
                fs.mkdirs(dst)
                fs.listStatus(staged).iterator
                  .filter(s => s.isFile && s.getPath.getName != "_SUCCESS")
                  .foreach(s => renameOver(fs, s.getPath, new Path(dst, s.getPath.getName)))
              }
            case "delete" => fs.delete(live(f(1)), true)
          }
          TestHooks.at(s"after-step-$i")
        }
      fs.delete(seal, false)
      fs.delete(stageP, true)
      true
    }
  }

  /** Throw away any stage under `root`, sealed or not: a full rebuild
    * rewrites every output the stage could hold. */
  def discard(spark: SparkSession, root: String): Unit =
    lockOf(root).synchronized {
      fsOf(spark, root).delete(new Path(s"$root/$StageName"), true)
    }

  /** Rename a file over `dst`. POSIX rename replaces atomically; HDFS
    * refuses a clobber, so fall back to delete-then-rename. */
  private[index] def renameOver(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) {
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(src, dst))
        throw new IllegalStateException(s"rename $src -> $dst failed")
    }
}
