package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions._

/** SparkSessionExtensions hook: registers graft's native expressions
  * in the SQL function registry, so pure-SQL users (spark.sql,
  * thrift/connect clients) can call them directly:
  *
  * {{{
  * // spark.sql.extensions=graft.GraftExtensions, as in graft.Session
  * spark.sql("SELECT minhash_sig(text, 3, 128) FROM docs")
  * }}}
  *
  * Literal integer arguments configure the signature shapes; the
  * expressions themselves are the same codegen-friendly ones the
  * Column API uses (TextHashes.scala, VectorExprs.scala).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => MinHashSig(c, 3, 128)
        case Seq(c, sh, k) =>
          MinHashSig(c, intArg(sh, "shingle"), intArg(k, "numHashes"))
        case _ => throw new IllegalArgumentException(
          "minhash_sig(text[, shingle, numHashes])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => SimHash64(c)
        case _ => throw new IllegalArgumentException("simhash64(text)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => WinnowFingerprints(c, 8, 4)
        case Seq(c, k, w) =>
          WinnowFingerprints(c, intArg(k, "k"), intArg(w, "w"))
        case _ => throw new IllegalArgumentException(
          "winnow_fingerprints(text[, k, w])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("int_vec_dot"),
      new ExpressionInfo(classOf[IntVecDot].getName, "int_vec_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => IntVecDot(a, b)
        case _ => throw new IllegalArgumentException("int_vec_dot(a, b)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "pq_adc"),
      (args: Seq[Expression]) => args match {
        case Seq(lut, codes) => PqAdc(lut, codes)
        case _ => throw new IllegalArgumentException("pq_adc(lut, codes)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("int_vec_norm_sq"),
      new ExpressionInfo(classOf[IntVecNormSq].getName, "int_vec_norm_sq"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => IntVecNormSq(c)
        case _ => throw new IllegalArgumentException("int_vec_norm_sq(vec)")
      }))
    // the qserv_areaspec region predicates (AreaSpec.scala): each
    // expands to built-in codegen expressions, not a UDF
    ext.injectFunction((
      new FunctionIdentifier("areaspec_circle"),
      new ExpressionInfo(AreaSpec.getClass.getName, "areaspec_circle"),
      (args: Seq[Expression]) => args match {
        case Seq(ra, de, rc, dc, r) => AreaSpec.circleExpr(ra, de, rc, dc, r)
        case _ => throw new IllegalArgumentException(
          "areaspec_circle(ra, decl, raCenter, decCenter, radiusDeg)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("areaspec_box"),
      new ExpressionInfo(AreaSpec.getClass.getName, "areaspec_box"),
      (args: Seq[Expression]) => args match {
        case Seq(ra, de, r1, d1, r2, d2) =>
          AreaSpec.boxExpr(ra, de, r1, d1, r2, d2)
        case _ => throw new IllegalArgumentException(
          "areaspec_box(ra, decl, raMin, decMin, raMax, decMax)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("areaspec_poly"),
      new ExpressionInfo(AreaSpec.getClass.getName, "areaspec_poly"),
      (args: Seq[Expression]) => {
        if (args.length < 8 || args.length % 2 != 0)
          throw new IllegalArgumentException(
            "areaspec_poly(ra, decl, x1, y1, x2, y2, x3, y3[, ...]) — CCW convex vertices")
        val verts = args.drop(2).grouped(2).map {
          case Seq(x, y) => (x, y)
        }.toSeq
        AreaSpec.polyExpr(args(0), args(1), verts)
      }))
    ext.injectFunction((
      new FunctionIdentifier("areaspec_ellipse"),
      new ExpressionInfo(AreaSpec.getClass.getName, "areaspec_ellipse"),
      (args: Seq[Expression]) => args match {
        case Seq(ra, de, rc, dc, a, b, pa) =>
          AreaSpec.ellipseExpr(ra, de, rc, dc, a, b, pa)
        case _ => throw new IllegalArgumentException(
          "areaspec_ellipse(ra, decl, raCenter, decCenter, semiMajorDeg, semiMinorDeg, positionAngleDeg)")
      }))
    // whole-operator extension: plan TopKPerKeyNode via its strategy,
    // and rewrite the row_number()<=k window idiom onto it
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}
