package graft.ext

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[TextOps.fuseRrf]]'s union form against the full-outer-join form it
  * replaced, row for row and in order, on generated arms. Each arm
  * holds a (query_id, doc_id) at most once, as both real arms do.
  */
object FuseRrfProperties extends Properties("FuseRrf") with SparkSpec {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  /** The fusion as a full-outer join, a window and a global sort. */
  def joinForm(lexArm: DataFrame, embArm: DataFrame, k: Int,
               rrfK: Int): DataFrame = {
    val fused = lexArm.join(embArm, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("emb_rnk")), lit(0.0)), 6))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(wf)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("lex_rnk"), col("emb_rnk"), col("rrf_score"))
      .orderBy("query_id", "rnk")
  }

  /** One arm: per query, distinct docs drawn from `docs`, ranked 1..n
    * in generation order. Few docs and small ranks make both arms share
    * docs and make symmetric (lex r, emb s) / (lex s, emb r) ties, and
    * single-arm docs of equal rank tie across the arms.
    */
  def armGen(docs: Gen[Long]): Gen[List[(Long, Long, Int)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 3L), docs)).map { pairs =>
      pairs.distinct.groupBy(_._1).toList.flatMap { case (q, qs) =>
        qs.zipWithIndex.map { case ((_, d), i) => (q, d, i + 1) }
      }
    }

  /** overlapping docs, disjoint docs, or one empty arm */
  val armsGen: Gen[(String, List[(Long, Long, Int)], List[(Long, Long, Int)])] =
    Gen.oneOf("overlap", "disjoint", "lex-empty", "emb-empty").flatMap {
      case "overlap" => for {
        l <- armGen(Gen.chooseNum(0L, 9L)); e <- armGen(Gen.chooseNum(0L, 9L))
      } yield ("overlap", l, e)
      case "disjoint" => for {
        l <- armGen(Gen.chooseNum(0L, 9L)); e <- armGen(Gen.chooseNum(10L, 19L))
      } yield ("disjoint", l, e)
      case "lex-empty" => armGen(Gen.chooseNum(0L, 9L)).map(("lex-empty", Nil, _))
      case _ => armGen(Gen.chooseNum(0L, 9L)).map(("emb-empty", _, Nil))
    }

  property("union fusion equals the full-outer-join fusion row for row") =
    forAll(armsGen, Gen.chooseNum(1, 6), Gen.oneOf(1, 60)) {
      case ((mode, lex, emb), k, rrfK) =>
        import spark.implicits._
        val lexArm = lex.toDF("query_id", "doc_id", "lex_rnk")
        val embArm = emb.toDF("query_id", "doc_id", "emb_rnk")
        val got = TextOps.fuseRrf(lexArm, embArm, k, rrfK).collect().map(_.toSeq).toSeq
        val want = joinForm(lexArm, embArm, k, rrfK).collect().map(_.toSeq).toSeq
        Prop.collect(mode)(Prop(got == want) :| s"got=$got want=$want")
    }
}
