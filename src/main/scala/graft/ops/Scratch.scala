package graft.ops

import org.apache.spark.sql.SparkSession

/** App-scoped scratch directories for the benchmark queries that keep a
  * STANDING artifact (ANN indexes, the BPE merge table): built once per
  * (application, dataset) and reused by repeat runs — the benchmark face
  * of "train/build once, serve forever". The q88/q373 signature stores
  * live here too and reset their dir on every call. Collision
  * discipline: the applicationId in the name (concurrent sessions —
  * e.g. two Verify runs on one machine — never share or race on a
  * dir) × an md5 of the dataset path (distinct datasets can't collide
  * the way String.hashCode can), and a best-effort shutdown hook,
  * registered once per path, deletes the tree on JVM exit so repeated
  * runs don't accumulate scratch stores in tmpdir. */
private[graft] object Scratch {
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def dir(s: SparkSession, dataset: String, kind: String): String = {
    val dTag = java.security.MessageDigest.getInstance("MD5")
      .digest(dataset.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
      s"${s.sparkContext.applicationId}_$dTag"
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (hooked.add(path)) {
      sys.addShutdownHook { try fs.delete(hp, true) catch { case _: Exception => () } }
    }
    path
  }
}
