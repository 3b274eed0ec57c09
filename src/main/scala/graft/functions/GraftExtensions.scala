package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions hook exposing graft's native kernels to SQL:
  *
  * {{{
  * sessionBuilder.withExtensions(new GraftExtensions)...
  * // or: spark.sql.extensions=graft.functions.GraftExtensions
  * spark.sql("SELECT simhash64(tokens), shingles(tokens, 5) FROM t")
  * }}}
  *
  * The Column API (`SimHash64.simhash64`, `Shingles.shingles`) needs no
  * registration — this hook exists for pure-SQL callers (thriftserver,
  * `spark.sql(...)` pipelines). Registration is session-local and uses
  * only the public extensions API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((new FunctionIdentifier(name), info, builder))
    }
    // optimizer tier: composed HOF dot products → native kernel
    ext.injectOptimizerRule(_ => KernelSubstitution)
  }
}

object GraftExtensions {

  private[functions] val functions
      : Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("simhash64",
     new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
     (args: Seq[Expression]) => {
       require(args.length == 1, "simhash64(tokens) takes one argument")
       SimHash64(args.head)
     }),
    ("shingles",
     new ExpressionInfo(classOf[Shingles].getName, "shingles"),
     (args: Seq[Expression]) => {
       require(args.length == 2, "shingles(tokens, k) takes two arguments")
       val k = args(1) match {
         case Literal(v: Int, IntegerType) => v
         case other => throw new IllegalArgumentException(
           s"shingles k must be an integer literal, got $other")
       }
       Shingles(args.head, k)
     }),
    ("deflate_ratio",
     new ExpressionInfo(classOf[DeflateRatio].getName, "deflate_ratio"),
     (args: Seq[Expression]) => {
       require(args.length == 1, "deflate_ratio(text) takes one argument")
       DeflateRatio(args.head)
     }),
    ("dot_product",
     new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
     (args: Seq[Expression]) => {
       require(args.length == 2, "dot_product(a, b) takes two arguments")
       DotProduct(args(0), args(1))
     }),
    ("pearson_maps",
     new ExpressionInfo(classOf[PearsonMaps].getName, "pearson_maps"),
     (args: Seq[Expression]) => {
       require(args.length == 2, "pearson_maps(a, b) takes two arguments")
       PearsonMaps(args(0), args(1))
     }),
    ("lang_hits",
     new ExpressionInfo(classOf[LangHits].getName, "lang_hits"),
     (args: Seq[Expression]) => {
       require(args.length == 1, "lang_hits(tokens) takes one argument")
       LangHits(args.head)
     }),
    ("lang_id",
     new ExpressionInfo(classOf[LangId].getName, "lang_id"),
     (args: Seq[Expression]) => {
       require(args.length == 2,
         "lang_id(tokens, text) takes two arguments")
       LangId(args(0), args(1))
     }),
    ("script_hits",
     new ExpressionInfo(classOf[ScriptHits].getName, "script_hits"),
     (args: Seq[Expression]) => {
       require(args.length == 1, "script_hits(text) takes one argument")
       ScriptHits(args.head)
     }),
    ("gopher_stats",
     new ExpressionInfo(classOf[GopherStats].getName, "gopher_stats"),
     (args: Seq[Expression]) => {
       require(args.length == 1,
         "gopher_stats(text) takes one argument (built-in stop list)")
       GopherStats(args.head, graft.text.Gopher.StopList)
     }),
    ("nfc_normalize",
     new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
     (args: Seq[Expression]) => {
       require(args.length == 1, "nfc_normalize(text) takes one argument")
       NfcNormalize(args.head)
     }),
    ("repetition_stats",
     new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
     (args: Seq[Expression]) => {
       require(args.length == 2,
         "repetition_stats(lines, tokens) takes two arguments")
       RepetitionStats(args(0), args(1))
     }),
    ("tokenize",
     new ExpressionInfo(classOf[Tokenize].getName, "tokenize"),
     (args: Seq[Expression]) => {
       require(args.length == 1, "tokenize(text) takes one argument")
       Tokenize(args.head)
     }),
    ("shingle_hashes",
     new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
     (args: Seq[Expression]) => {
       require(args.length == 2,
         "shingle_hashes(tokens, k) takes two arguments")
       ShingleHashes(args.head, intLiteral("shingle_hashes k", args(1)))
     }),
    ("window_hashes",
     new ExpressionInfo(classOf[WindowHashes].getName, "window_hashes"),
     (args: Seq[Expression]) => {
       require(args.length == 2,
         "window_hashes(tokens, k) takes two arguments")
       WindowHashes(args.head, intLiteral("window_hashes k", args(1)))
     }),
    ("dense_scatter",
     new ExpressionInfo(classOf[DenseScatter].getName, "dense_scatter"),
     (args: Seq[Expression]) => {
       require(args.length == 2,
         "dense_scatter(entries, d) takes two arguments")
       DenseScatter(args.head, intLiteral("dense_scatter d", args(1)))
     }),
    ("html_text",
     new ExpressionInfo(classOf[graft.text.HtmlText].getName, "html_text"),
     (args: Seq[Expression]) => {
       require(args.length == 1, "html_text(html) takes one argument")
       graft.text.HtmlText(args.head)
     }),
    ("html_main_content",
     new ExpressionInfo(classOf[graft.text.HtmlMainContent].getName,
       "html_main_content"),
     (args: Seq[Expression]) => {
       require(args.length == 1 || args.length == 3,
         "html_main_content(html[, min_chars, link_density_pct])")
       if (args.length == 1)
         graft.text.HtmlMainContent(args.head, 25, 20)
       else graft.text.HtmlMainContent(args.head,
         intLiteral("html_main_content min_chars", args(1)),
         intLiteral("html_main_content link_density_pct", args(2)))
     }),
    ("html_title",
     new ExpressionInfo(classOf[graft.text.HtmlTitle].getName,
       "html_title"),
     (args: Seq[Expression]) => {
       require(args.length == 1, "html_title(html) takes one argument")
       graft.text.HtmlTitle(args.head)
     }),
    ("registrable_domain",
     new ExpressionInfo(classOf[graft.text.RegistrableDomain].getName,
       "registrable_domain"),
     (args: Seq[Expression]) => {
       require(args.length == 1,
         "registrable_domain(host) takes one argument")
       graft.text.RegistrableDomain(args.head)
     }),
    ("dot_product_long",
     new ExpressionInfo(classOf[DotProductLong].getName, "dot_product_long"),
     (args: Seq[Expression]) => {
       require(args.length == 2,
         "dot_product_long(a, b) takes two arguments")
       DotProductLong(args(0), args(1))
     }))

  private def intLiteral(what: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Same registrations on an already-built session (extensions only
    * apply at session construction). The optimizer rule rides on the
    * public `experimental.extraOptimizations` hook. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, info, builder) =>
      org.apache.spark.sql.graft.ColumnBridge
        .registerFunction(spark, name, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(KernelSubstitution))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ KernelSubstitution
  }
}
