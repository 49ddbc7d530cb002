package graft.ext

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[TextOps.lexDfreqSum]]'s union + sum merge against the full-outer
  * join form the flat append used before, on generated live and batch
  * dfreq frames. Each frame holds a token at most once, and a token's
  * bucket is a function of the token, as in every store.
  */
object DfreqMergeProperties extends Properties("DfreqMerge") with SparkSpec {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  /** The merge as a full-outer join on (token, bucket), missing sides
    * counting zero.
    */
  def joinForm(live: DataFrame, batch: DataFrame): DataFrame =
    live.select(col("token"), col("df").as("df_live"), col("bucket"))
      .join(batch.select(col("token"), col("df").as("df_new"), col("bucket")),
        Seq("token", "bucket"), "full_outer")
      .select(col("token"),
        (coalesce(col("df_live"), lit(0L)) + coalesce(col("df_new"), lit(0L)))
          .as("df"), col("bucket"))

  /** (token, df, bucket) rows over a small vocabulary, so live and batch
    * share tokens, differ in tokens, or one of them is empty.
    */
  val frameGen: Gen[List[(String, Long, Int)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0, 11), Gen.chooseNum(1L, 9L)))
      .map(_.distinctBy(_._1).map { case (t, df) => (s"t$t", df, t % 4) })

  property("union + sum equals the full-outer merge row for row") =
    forAll(frameGen, frameGen) { (live, batch) =>
      import spark.implicits._
      val (l, b) = (live.toDF("token", "df", "bucket"),
        batch.toDF("token", "df", "bucket"))
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
        .sortBy(_.toString)
      val got = TextOps.lexDfreqSum(Seq(l, b))
      val want = joinForm(l, b)
      Prop(got.schema.map(_.dataType) == want.schema.map(_.dataType)) &&
        Prop(rows(got) == rows(want)) :| s"got=${rows(got)} want=${rows(want)}"
    }
}
