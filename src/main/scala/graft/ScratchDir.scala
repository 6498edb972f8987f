package graft

import org.apache.spark.sql.SparkSession

/** Per-process scratch directories for entries that write files and
  * read them back. A path is keyed on (name, MD5(dir | session), pid):
  * distinct corpus dirs (even ones with equal `String.hashCode`), two
  * sessions on one dir and two JVMs never share a path, while one
  * session's repeated calls on one dir reuse theirs (overwrite mode),
  * so bench passes do not pile up dirs. One JVM shutdown hook deletes
  * every path handed out, recursively.
  */
object ScratchDir {
  private val issued = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val deleteAtExit: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    issued.forEach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))))

  def apply(name: String, spark: SparkSession, dir: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|${SessionKey(spark)}".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${name}_${tag}_p${ProcessHandle.current().pid()}").toString
    deleteAtExit
    issued.add(path)
    path
  }
}
