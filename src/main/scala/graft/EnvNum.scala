package graft

/** Numeric environment settings of the harness mains. An absent
  * variable yields the default; a present one that does not parse
  * throws an [[IllegalArgumentException]] naming the variable and the
  * value, so a mistyped setting fails the run instead of being
  * silently misread. */
object EnvNum {
  def int(name: String, default: Int, env: Map[String, String] = sys.env): Int =
    parsed(name, env)(_.toInt).getOrElse(default)

  def double(name: String, default: Double, env: Map[String, String] = sys.env): Double =
    parsed(name, env)(_.toDouble).getOrElse(default)

  /** The variable's value when set, without a default. */
  def doubleOpt(name: String, env: Map[String, String] = sys.env): Option[Double] =
    parsed(name, env)(_.toDouble)

  private def parsed[T](name: String, env: Map[String, String])(parse: String => T): Option[T] =
    env.get(name).map { raw =>
      try parse(raw.trim)
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"environment variable $name=\"$raw\" is not a number")
      }
    }
}
