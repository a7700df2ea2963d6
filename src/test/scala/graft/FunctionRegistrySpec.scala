package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Each `graft.functions` `register` binds its SQL name to the native
  * Catalyst expression through the session function registry: a call by
  * name analyzes to that expression, never to a `ScalaUDF`.
  */
class FunctionRegistrySpec extends AnyFunSuite with SparkTest {

  private val cases: Seq[(String, SparkSession => Unit, String, Class[_])] = Seq(
    ("json_get", JsonGet.register, "json_get(s, 'k')", classOf[JsonGet]),
    ("token_runs", TokenRuns.register, "token_runs(s)", classOf[TokenRuns]),
    ("token_entropy", TokenEntropy.register, "token_entropy(s)", classOf[TokenEntropy]),
    ("simhash64", SimHash64.register, "simhash64(s)", classOf[SimHash64]),
    ("cosine_sim", CosineSim.register, "cosine_sim(v, v)", classOf[CosineSim]))

  for ((name, register, call, cls) <- cases)
    test(s"$name resolves to its Catalyst expression after register, not to a ScalaUDF") {
      import spark.implicits._
      register(spark)
      val df = Seq(("""{"k":1} ab cd""", Array(1.0f, 2.0f))).toDF("s", "v").selectExpr(call)
      val exprs = df.queryExecution.analyzed.expressions.flatMap(_.collect { case e => e })
      assert(exprs.exists(cls.isInstance), s"$call analyzed to ${df.queryExecution.analyzed}")
      assert(!exprs.exists(_.isInstanceOf[ScalaUDF]), s"$call analyzed to a ScalaUDF")
      assert(df.collect().length == 1)
    }
}
