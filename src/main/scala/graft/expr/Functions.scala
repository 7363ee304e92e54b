package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration of the graft expressions: after
  * `Functions.register(spark)` (done by graft.Conf.ensure), `spark.sql`
  * text can call them directly —
  *
  *   SELECT graft_cosine(a.embedding, b.embedding) FROM ...
  *   SELECT graft_minhash(graft_shingles(text, 3), 32) FROM documents
  *
  * Registration is runtime (FunctionRegistry), not a SparkSessionExtensions
  * build hook, so it works on sessions the caller already owns (the
  * driver's harness builds the session; we never control `.withExtensions`).
  * Integer parameters must be foldable literals — they parameterize the
  * generated code, they are not per-row data. */
object Functions {

  private def intArg(e: Expression, name: String, default: Int): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$name expects a literal integer, got $other")
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> { args => CosineSim(args(0), args(1)) },
    "graft_simhash" -> { args => SimHash64(args(0)) },
    "graft_shingles" -> { args =>
      ShingleHashes(args(0), if (args.size > 1) intArg(args(1), "n", 3) else 3) },
    "graft_shingle_strings" -> { args =>
      ShingleStrings(args(0), if (args.size > 1) intArg(args(1), "n", 3) else 3) },
    "graft_minhash" -> { args =>
      MinHashSig(args(0), if (args.size > 1) intArg(args(1), "k", 32) else 32) },
    "graft_hyperplane_bucket" -> { args =>
      HyperplaneBucket(args(0), intArg(args(1), "planes", 8)) },
    "graft_zvalue" -> { args => ZValue(args(0), args(1)) },
    "graft_normalize_text" -> { args =>
      NormalizeText(args(0), if (args.size > 1) strArg(args(1), "form") else "NFC") },
    "graft_dhash" -> { args => DHash64(args(0)) },
    "graft_ahash" -> { args => AHash64(args(0)) }
  )

  private def strArg(e: Expression, name: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$name expects a literal string, got $other")
  }

  /** Registers the `graft_*` names the session's registry lacks. Names it
    * already holds are left as they are: re-registering one logs a
    * `replaced a previously registered function` WARN, and every
    * `Conf.ensure` would log one per name. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name))) registry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.expr", name),
        builder)
    }
  }
}
