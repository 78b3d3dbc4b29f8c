package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** Deployment-entry config plumbing: the same jar must run on a real
  * cluster (`--master spark://…`, spark-submit's injected
  * `spark.master`, or `SPARK_GRAFT_MASTER`) and fall back to a local
  * session for driverless runs — verified on the pure resolution
  * functions, no cluster needed.
  */
class SessionsSpec extends AnyFunSuite {

  private val noEnv: String => Option[String] = _ => None
  private val noProp: String => Option[String] = _ => None

  test("resolveMaster precedence: explicit arg > env > launcher property") {
    val env: String => Option[String] = Map("SPARK_GRAFT_MASTER" -> "spark://env:7077").get
    val prop: String => Option[String] = Map("spark.master" -> "k8s://prop").get
    assert(Sessions.resolveMaster(Some("local[2]"), env, prop)
      .contains("local[2]"))
    assert(Sessions.resolveMaster(None, env, prop)
      .contains("spark://env:7077"))
    assert(Sessions.resolveMaster(None, noEnv, prop).contains("k8s://prop"))
    assert(Sessions.resolveMaster(None, noEnv, noProp).isEmpty)
  }

  test("shufflePartitionsFor: local sizes to cores, cluster to env or 200") {
    // a local[N] master sizes to ITS core count, not the cpus arg
    assert(Sessions.shufflePartitionsFor("local[4]", cpus = 32, noEnv) == 4)
    assert(Sessions.shufflePartitionsFor("local[*]", cpus = 8, noEnv) == 8)
    assert(Sessions.shufflePartitionsFor("spark://m:7077", cpus = 8, noEnv) == 200)
    // the explicit override wins everywhere
    val env: String => Option[String] = Map("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "4096").get
    assert(Sessions.shufflePartitionsFor("spark://m:7077", cpus = 8, env) == 4096)
    assert(Sessions.shufflePartitionsFor("local[4]", cpus = 8, env) == 4096)
  }

  test("codegenCacheWarning: only a session below graft's codegen cache warns") {
    assert(Sessions.codegenCacheWarning(Sessions.CodegenCacheEntries).isEmpty)
    assert(Sessions.codegenCacheWarning(Sessions.CodegenCacheEntries * 2).isEmpty)
    val warning = Sessions.codegenCacheWarning(100)
    assert(warning.exists(w => w.contains("spark.sql.codegen.cache.maxEntries=100") &&
      w.contains(s"< ${Sessions.CodegenCacheEntries}")), warning)
  }
}
