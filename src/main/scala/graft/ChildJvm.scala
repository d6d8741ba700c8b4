package graft

/** Plumbing for Bench's fork mode, which runs each query in a bare `java`
  * child: the JDK-17 `--add-opens` list Spark needs when the session is
  * created outside spark-submit (mirrors build.sbt /
  * `JavaModuleOptions.defaultModuleOptions()`), and the watchdog-guarded
  * start/read/kill pattern.
  */
private[graft] object ChildJvm {

  val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Start `cmd` (stderr merged into stdout), kill it after `timeoutS`
    * seconds, and return (stdout lines, exit code).
    */
  def run(cmd: Seq[String], timeoutS: Long,
      label: String): (List[String], Int) = {
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val p = pb.start()
    val watchdog = new Thread(() => {
      if (!p.waitFor(timeoutS, java.util.concurrent.TimeUnit.SECONDS)) {
        System.err.println(
          s"[childjvm] $label timed out after $timeoutS s; killing")
        p.destroyForcibly(); ()
      }
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val src = scala.io.Source.fromInputStream(p.getInputStream)
    val lines = try src.getLines().toList finally src.close()
    p.waitFor()
    (lines, p.exitValue())
  }
}
