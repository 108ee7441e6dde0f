package graft

import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, SparkPlugin}
import org.apache.spark.util.MutableURLClassLoader

/** Runs each local task under the class loader the driver's threads use, so
  * a task finds in Spark's codegen cache the classes the driver compiled.
  *
  * The cache keys a compiled class on the compiling thread's context class
  * loader and its source. The driver compiles every whole-stage class once
  * to check its size; a local executor runs its tasks under a
  * `MutableURLClassLoader` of its own whose parent is the driver's loader,
  * so without this plugin each task compiles the same source again. When
  * that loader holds no URLs it delegates every lookup to its parent, and
  * the task can run under the parent with the same classes resolved. Any
  * other loader (one with jars added, a child-first one under
  * `userClassPathFirst`, a cluster executor's) is left alone. The plugin
  * has no driver side.
  *
  * It needs `spark.sql.artifact.isolation.enabled=false`: with isolation
  * on, every SQL job runs under a per-session loader instead. Both are in
  * [[Regime.codegen]].
  */
class TaskLoaderPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = null

  // Spark calls onTaskStart in the task's thread after the executor has set
  // the task's loader and before the task runs.
  override def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    override def onTaskStart(): Unit = {
      val t = Thread.currentThread
      t.setContextClassLoader(TaskLoaderPlugin.taskLoader(t.getContextClassLoader))
    }
  }
}

object TaskLoaderPlugin {

  /** The loader a task set up under `loader` runs under: the parent of a
    * plain, URL-less `MutableURLClassLoader`, otherwise `loader` itself. */
  def taskLoader(loader: ClassLoader): ClassLoader = loader match {
    case l: MutableURLClassLoader
        if l.getClass == classOf[MutableURLClassLoader] && l.getURLs.isEmpty => l.getParent
    case l => l
  }
}
