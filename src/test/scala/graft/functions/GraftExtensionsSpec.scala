package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** `GraftExtensions` is the one path that registers graft's SQL
  * functions: a fresh session of a `GraftSession`-built context resolves
  * every one of them by SQL before any graft operator has run.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec {

  // written out, not read from GraftFunctions.table: a name dropped from
  // the table must fail here
  private val names = Seq(
    "cosine_sim", "zorder", "unicode_normalize", "winnow_fps",
    "int_dot", "int8_codes", "int8_bytes", "int_dot_bytes",
    "centroid_scores", "int8_unpack", "uint8_unpack",
    "pq_encode", "pq_lut", "pq_adc", "pq_recon", "int_vec_add", "int_vec_sub",
    "minhash_sketch", "md5_minhash_sketch", "simhash_sketch",
    "hll_distinct", "hll_sketch_buffer", "hll_merge",
    "kmv_distinct", "kmv_sketch_buffer", "kmv_merge_estimate", "kmv_merge_sample",
    "mg_topk", "mg_sketch_buffer", "mg_merge_topk",
    "qsk_quantile", "qsk_buffer", "qsk_merge_quantile", "qsk_merge_total")

  test("a fresh session resolves all 34 graft functions by SQL, each naming a graft class") {
    assert(names.distinct.length === 34)
    val fresh = spark.newSession()
    // an unresolved name throws; keep going so the failure lists them all
    val classes = names.map { n =>
      val described = scala.util.Try(
        fresh.sql(s"DESCRIBE FUNCTION $n").collect().map(_.getString(0))).getOrElse(Array.empty)
      n -> described.collectFirst { case l if l.startsWith("Class: ") => l.stripPrefix("Class: ") }
    }
    val foreign = classes.filterNot(_._2.exists(_.startsWith("graft.functions.")))
    assert(foreign.isEmpty, s"not resolved to a graft class: $foreign")
  }
}
