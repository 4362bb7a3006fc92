package graft.bfl

import java.time.LocalDateTime
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter
import java.util.Locale
import java.util.regex.Pattern
import scala.collection.mutable
import Ast._
import JsonTree.{Arr, Obj}

/** Row-at-a-time BFL evaluator with exact reference semantics
  * (reference: server/lib/eval.go). Used for conformance testing, the engine's
  * insertion filter, and as the fallback Catalyst expression for queries the
  * Column compiler can't express (redact / json() / xml() / descent over
  * schema-free docs).
  *
  * Collapse rule: a bare JSONPath that resolves to nothing, or an undefined
  * helper, collapses the WHOLE expression to false — but left-to-right
  * short-circuiting (`false and …`, `true or …`) is applied first, so a
  * missing path in the never-evaluated right branch does not collapse
  * (reference: server/lib/eval.go:613-624, 744-776, 786-790).
  */
final class Interp(query: Query) {

  private val regexCache = mutable.HashMap[String, Pattern]()

  private def pattern(p: String): Pattern =
    regexCache.getOrElseUpdate(p, Pattern.compile(Interp.re2ToJava(p)))

  /** Evaluate against a JSON document. Returns (truth, transformed tree).
    * The tree is mutated in place by record-altering helpers (redact).
    */
  def eval(root: Any): Boolean = {
    query.expr match {
      case None => true
      case Some(e) =>
        val r = evalExpr(e, root)
        if (r.collapse) false else Coerce.toBool(r.value)
    }
  }

  private[bfl] def evalValue(root: Any): (Any, Boolean) =
    query.expr match {
      case None => (true, false)
      case Some(e) =>
        val r = evalExpr(e, root)
        (r.value, r.collapse)
    }

  private final case class Res(value: Any, collapse: Boolean)
  private val Collapse = Res(null, collapse = true)

  private def evalExpr(e: Expr, root: Any): Res = e match {
    case Logical(op, l, r) =>
      val lv = evalExpr(l, root)
      if (lv.collapse) return Collapse
      val lb = Coerce.toBool(lv.value)
      // short-circuit before the right branch can collapse
      // (reference: server/lib/eval.go:753-761)
      if (op == "and" && !lb) return Res(false, collapse = false)
      if (op == "or" && lb) return Res(true, collapse = false)
      val rv = evalExpr(r, root)
      if (rv.collapse) return Collapse
      Res(if (op == "and") lb && Coerce.toBool(rv.value) else lb || Coerce.toBool(rv.value), collapse = false)

    case Equality(op, l, r) =>
      val lv = evalExpr(l, root)
      if (lv.collapse) return Collapse
      val rv = evalExpr(r, root)
      if (rv.collapse) return Collapse
      val eq = Coerce.eql(lv.value, rv.value, pattern)
      Res(if (op == "==") eq else !eq, collapse = false)

    case Comparison(op, l, r) =>
      val lv = evalExpr(l, root)
      if (lv.collapse) return Collapse
      val rv = evalExpr(r, root)
      if (rv.collapse) return Collapse
      Res(Coerce.cmp(op, lv.value, rv.value), collapse = false)

    case SubExpr(inner) =>
      // collapse boundary (reference: eval.go:649-651 via evalExpression)
      val r = evalExpr(inner, root)
      if (r.collapse) Res(false, collapse = false) else r

    case Unary(op, operand) =>
      val v = evalExpr(operand, root)
      if (v.collapse) return Collapse
      // `!` only flips booleans, `-` only negates doubles; any other
      // combination leaves the value untouched (reference: eval.go:676-685)
      val out = (op, v.value) match {
        case ("!", b: Boolean) => !b
        case ("-", d: Double)  => -d
        case (_, x)            => x
      }
      Res(out, collapse = false)

    case NumLit(v)      => Res(v, collapse = false)
    case StrLit(v)      => Res(v, collapse = false)
    case BoolLit(v)     => Res(v, collapse = false)
    case NilLit         => Res(null, collapse = false)
    case TimeLit(ms)    => Res(ms, collapse = false)
    case RegexLit(p)    => Res(RegexVal(pattern(p)), collapse = false)

    case PathGet(path) =>
      JsonTree.get(root, path) match {
        case Nil      => Collapse // missing path, not a helper call
        case v :: Nil => Res(v, collapse = false)
        case vs       => Res(toArr(vs), collapse = false)
      }

    case HelperCall(name, recv, args) =>
      val recvVal = JsonTree.get(root, recv) match {
        case Nil      => false // helper call on a missing path → receiver false
        case v :: Nil => v
        case vs       => toArr(vs)
      }
      name match {
        case "startsWith" | "endsWith" | "contains" =>
          if (args.isEmpty) Res(false, collapse = false)
          else {
            val a = evalExpr(args.head, root)
            if (a.collapse) return Collapse
            val s = Coerce.toStr(recvVal)
            val arg = Coerce.toStr(a.value)
            val r = name match {
              case "startsWith" => s.startsWith(arg)
              case "endsWith"   => s.endsWith(arg)
              case _            => s.contains(arg)
            }
            Res(r, collapse = false)
          }
        case "datetime" =>
          if (args.isEmpty) Res(false, collapse = false)
          else {
            val a = evalExpr(args.head, root)
            if (a.collapse) return Collapse
            Res(Interp.parseDatetime(Coerce.toStr(a.value)).getOrElse(false), collapse = false)
          }
        case "limit" => Res(true, collapse = false)
        case "redact" =>
          val paths = args.map(a => Coerce.toStr(evalExpr(a, root).value))
          Redact(root, paths)
          Res(true, collapse = false)
        case _ => Collapse // undefined helper (reference: eval.go:640-644)
      }

    case JsonGet(outer, kind, inner) =>
      val ov = JsonTree.get(root, outer) match {
        case v :: Nil => v
        case Nil      => false
        case vs       => toArr(vs)
      }
      val s0 = Coerce.toStr(ov)
      val s = Interp.tryBase64(s0).getOrElse(s0)
      kind match {
        case "json" =>
          JsonTree.tryParse(s) match {
            case None => Res(false, collapse = false)
            case Some(doc) =>
              JsonTree.get(doc, inner) match {
                case Nil    => Res(false, collapse = false)
                case v :: _ => Res(v, collapse = false) // first match only
              }
          }
        case "xml" =>
          XmlCodec.parse(s) match {
            case None => Res(false, collapse = false)
            case Some(doc) =>
              JsonTree.get(doc, inner) match {
                case Nil => Res(false, collapse = false)
                case v :: _ =>
                  v match {
                    case s2: String => Res(s2, collapse = false)
                    case m: Obj =>
                      m.get("#text") match {
                        case Some(t) => Res(t, collapse = false)
                        case None    => Res(false, collapse = false)
                      }
                    case other => Res(other, collapse = false)
                  }
              }
          }
        case _ => Res(false, collapse = false)
      }
  }

  private def toArr(vs: List[Any]): Arr = {
    val a = new Arr; a ++= vs; a
  }
}

object Interp {

  /** Compile a query string straight to an evaluator. */
  def compile(text: String): Either[String, Interp] =
    Parser.parse(text).map(new Interp(_))

  private val dtFormat =
    DateTimeFormatter.ofPattern("M/d/uuuu, h:mm:ss.SSS a", Locale.US)

  /** `datetime("1/2/2006, 3:04:05.000 PM")` → epoch millis; unparseable →
    * None (evaluates to false) (reference: server/lib/eval.go:340-350).
    */
  def parseDatetime(s: String): Option[Long] =
    try Some(LocalDateTime.parse(s, dtFormat).toInstant(ZoneOffset.UTC).toEpochMilli)
    catch { case _: Exception => None }

  /** Go/RE2 named-group syntax `(?P<name>` is `(?<name>` in Java regex —
    * the one common RE2 construct Java rejects outright.
    */
  def re2ToJava(p: String): String = p.replace("(?P<", "(?<")

  /** Strict std-base64 sniff, matching Go base64.StdEncoding.DecodeString:
    * padding required, no whitespace (reference: server/lib/eval.go:362-365).
    */
  def tryBase64(s0: String): Option[String] =
    try {
      // Go's StdEncoding decode skips \r and \n (trailing newlines and
      // line-wrapped base64 decode fine)
      val s = if (s0.indexOf('\n') >= 0 || s0.indexOf('\r') >= 0)
        s0.filter(c => c != '\n' && c != '\r')
      else s0
      if (s.isEmpty || s.length % 4 != 0) None
      else Some(new String(java.util.Base64.getDecoder.decode(s), java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Exception => None }
}

/** Compiled-regex operand wrapper (the reference stores *regexp.Regexp in the
  * AST and dispatches on it in eql/neq, server/lib/eval.go:105-107).
  */
final case class RegexVal(p: Pattern)

/** BFL's dynamic coercions (reference: server/lib/eval.go:27-88). */
object Coerce {

  def toBool(v: Any): Boolean = v match {
    case s: String  => s.nonEmpty
    case b: Boolean => b
    case l: Long    => l > 0
    case i: Int     => i > 0
    case d: Double  => d > 0
    case null       => false
    case a: Arr     => a.nonEmpty
    case _          => false // maps, regex, etc. fall through Go's switch
  }

  def toStr(v: Any): String = v match {
    case s: String  => s
    case l: Long    => l.toString
    case i: Int     => i.toString
    case d: Double  => GoFmt.format(d)
    case b: Boolean => b.toString
    case null       => "null"
    case _          => "" // arrays/maps have no case in Go's switch
  }

  def toNum(v: Any): Double = v match {
    case s: String  => GoFloat.toNum(s) // strconv.ParseFloat exactly, err → 0
    case l: Long    => l.toDouble
    case i: Int     => i.toDouble
    case d: Double  => d
    case b: Boolean => if (b) 1.0 else 0.0
    case null       => 0.0
    case _          => 0.0
  }

  /** String equality after coercion; regex operand ⇒ unanchored match;
    * array vs scalar ⇒ existential membership; array vs array ⇒ deep equal
    * (reference: server/lib/eval.go:104-135).
    */
  def eql(a: Any, b: Any, pat: String => Pattern): Boolean = (a, b) match {
    // dispatch order mirrors Go's nested switches (eval.go:104-135):
    // operand1 regex, operand1 array (even vs a regex RHS — existential
    // string-compare against stringOperand(regex)=""), then operand2
    case (r: RegexVal, x)       => r.p.matcher(toStr(x)).find()
    case (x: Arr, y: Arr)       => deepEqual(x, y)
    case (x: Arr, y)            => x.exists(e => toStr(e) == toStr(y))
    case (x, r: RegexVal)       => r.p.matcher(toStr(x)).find()
    case (x, y: Arr)            => y.exists(e => toStr(x) == toStr(e))
    case (x, y)                 => toStr(x) == toStr(y)
  }

  private def deepEqual(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Arr, y: Arr) =>
      x.length == y.length && x.zip(y).forall { case (i, j) => deepEqual(i, j) }
    case (x: Obj, y: Obj) =>
      x.size == y.size && x.forall { case (k, v) => y.get(k).exists(deepEqual(v, _)) }
    case (x, y) =>
      // reflect.DeepEqual semantics: int64 5 != float64 5.0
      (x == null && y == null) ||
      (x != null && y != null && x.getClass == y.getClass && x == y)
  }

  /** Numeric comparison; array vs scalar ⇒ existential, array vs array ⇒
    * universal over all pairs (reference: server/lib/eval.go:176-326).
    */
  def cmp(op: String, a: Any, b: Any): Boolean = {
    def scalar(x: Any, y: Any): Boolean = {
      val f = toNum(x); val g = toNum(y)
      op match {
        case ">"  => f > g
        case "<"  => f < g
        case ">=" => f >= g
        case "<=" => f <= g
      }
    }
    (a, b) match {
      case (x: Arr, y: Arr) => x.forall(i => y.forall(j => scalar(i, j)))
      case (x: Arr, y)      => x.exists(i => scalar(i, y))
      case (x, y: Arr)      => y.exists(j => scalar(x, j))
      case (x, y)           => scalar(x, y)
    }
  }
}
