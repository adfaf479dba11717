package graft.selector

/** AST for the JMS 2.0 §3.8 message-selector grammar (the SQL-92 subset
  * that Pulsar-ecosystem entry filters evaluate over message properties;
  * see PIP-105). The reference repo itself is empty (README.md:1), so
  * this grammar is derived from the published JMS spec, not from code.
  */
sealed trait Expr {

  /** The direct sub-expressions, left to right. */
  def children: Seq[Expr] = this match {
    case Not(x)                => Seq(x)
    case Neg(x)                => Seq(x)
    case And(l, r)             => Seq(l, r)
    case Or(l, r)              => Seq(l, r)
    case Cmp(_, l, r)          => Seq(l, r)
    case Arith(_, l, r)        => Seq(l, r)
    case Between(x, lo, hi, _) => Seq(x, lo, hi)
    case InList(x, _, _)       => Seq(x)
    case LikeP(x, _, _, _)     => Seq(x)
    case IsNull(x, _)          => Seq(x)
    case _                     => Nil
  }

  /** True when `p` holds for this expression or any sub-expression. */
  def exists(p: Expr => Boolean): Boolean = p(this) || children.exists(_.exists(p))
}

final case class Ident(name: String) extends Expr
final case class StrL(v: String) extends Expr
final case class LongL(v: Long) extends Expr
final case class DoubleL(v: Double) extends Expr
final case class BoolL(v: Boolean) extends Expr

final case class Not(e: Expr) extends Expr
final case class And(l: Expr, r: Expr) extends Expr
final case class Or(l: Expr, r: Expr) extends Expr

/** op ∈ { =, <>, <, <=, >, >= } */
final case class Cmp(op: String, l: Expr, r: Expr) extends Expr

/** op ∈ { +, -, *, / } */
final case class Arith(op: Char, l: Expr, r: Expr) extends Expr
final case class Neg(e: Expr) extends Expr

final case class Between(e: Expr, lo: Expr, hi: Expr, negated: Boolean) extends Expr
final case class InList(e: Expr, vs: List[String], negated: Boolean) extends Expr
final case class LikeP(e: Expr, pattern: String, escape: Option[Char], negated: Boolean) extends Expr
final case class IsNull(e: Expr, negated: Boolean) extends Expr
