package graft

/** A second JVM for the specs that need real process death
  * (TwoProcessSpec) or a fresh JVM's first session (CodegenCacheSpec).
  */
object ChildJvm {
  /** Forks `main` with this JVM's module flags and classpath. The
    * child's stdio lands in a temp log ([[tail]] prints it on failure).
    */
  def fork(main: String, args: Seq[String], extraJvm: Seq[String] = Nil): (Process, java.io.File) = {
    import scala.jdk.CollectionConverters._
    val rt = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toVector
    val jvmArgs = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < rt.length) {
        val a = rt(i)
        if (a == "--add-opens" && i + 1 < rt.length) { b += a += rt(i + 1); i += 2 }
        else if (a.startsWith("--add-opens")) { b += a; i += 1 }
        else i += 1
      }
      b.result()
    }
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val log = java.io.File.createTempFile("graft-child", ".log")
    val cmd = Seq(javaBin) ++ jvmArgs ++ extraJvm ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    (pb.start(), log)
  }

  def tail(log: java.io.File): String =
    try new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8").takeRight(3000)
    catch { case _: Throwable => "<no log>" }
}
