package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The `PipelineRunner` command line as declared data. Each verb states
  * its flags once — name, metavar, and whether the flag is required or
  * what its default is. [[Cli.Table.parse]] checks a whole command line
  * against that statement before the verb body runs, and `--help`
  * renders the same statement.
  */
object Cli {

  /** One `--name value` flag; one neither required nor defaulted is
    * read as an `Option` ([[Args.get]]).
    */
  final case class Flag(name: String, metavar: String, required: Boolean, default: Option[String]) {
    def boolean: Boolean = metavar == "BOOL"
    private[Cli] def usage: String =
      if (required) s"--$name $metavar" else s"[--$name $metavar${default.fold("")("=" + _)}]"
  }

  def req(name: String, metavar: String): Flag = Flag(name, metavar, required = true, None)
  def opt(name: String, metavar: String): Flag = Flag(name, metavar, required = false, None)
  def opt(name: String, metavar: String, default: String): Flag = Flag(name, metavar, required = false, Some(default))
  def bool(name: String, default: Boolean): Flag = Flag(name, "BOOL", required = false, Some(default.toString))

  final class Verb(val name: String, val summary: String, val flags: Seq[Flag], val body: (Args, SparkSession) => Unit) {
    private[Cli] val byName = flags.map(f => f.name -> f).toMap
    require(byName.size == flags.size, s"$name declares a flag twice")
  }

  def verb(name: String, summary: String)(flags: Flag*)(body: (Args, SparkSession) => Unit): Verb =
    new Verb(name, summary, flags, body)

  /** A checked command line, read through the verb's declaration;
    * reading an undeclared flag is a bug in the verb and throws.
    */
  final class Args private[Cli] (val verb: Verb, values: Map[String, String]) {
    private def flag(k: String): Flag =
      verb.byName.getOrElse(k, throw new IllegalStateException(s"${verb.name} reads undeclared flag --$k"))

    /** The given value, else the declared default. */
    def apply(k: String): String = {
      val f = flag(k)
      values.get(k).orElse(f.default).getOrElse(sys.error(s"${verb.name}: --$k ${f.metavar} required"))
    }

    /** The value given on the command line, ignoring any default. */
    def get(k: String): Option[String] = { flag(k); values.get(k) }
    def contains(k: String): Boolean = get(k).isDefined
    def bool(k: String): Boolean = {
      require(flag(k).boolean, s"${verb.name}: --$k is not declared boolean")
      apply(k).toBoolean
    }
  }

  /** The verbs `--selector VERB` picks from; without the selector, `entry` runs. */
  final class Table(selector: String, entry: Verb, verbs: Seq[Verb]) {
    private val byName = verbs.map(v => v.name -> v).toMap
    require(byName.size == verbs.size, "a verb is declared twice")

    private def usage(v: Verb): String = {
      val toks = (if (v eq entry) Nil else Seq(s"--$selector", v.name)) ++ v.flags.map(_.usage)
      val lines = toks.tail.foldLeft(Vector(s"  ${toks.head}")) { (acc, t) =>
        if (acc.last.length + t.length >= 100) acc :+ s"      $t" else acc.init :+ s"${acc.last} $t"
      }
      (lines :+ s"      ${v.summary}").mkString("\n")
    }

    /** Left: the `--help` text (of the selected verb only, if any).
      * Right: the selected verb's flags, checked against its declaration.
      */
    def parse(argv: Array[String]): Either[String, Args] = {
      val verb = argv.indexOf(s"--$selector") match {
        case -1 => entry
        case i =>
          val name = argv.lift(i + 1).getOrElse("")
          byName.getOrElse(name, throw new IllegalArgumentException(
            s"unknown --$selector verb: $name (--help lists the verbs)"))
      }
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"${verb.name}: $msg (--help lists its flags)")
      @annotation.tailrec
      def pairs(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
        case Nil => acc
        case k :: _ if !k.startsWith("--") => fail(s"expected a --flag, got '$k'")
        case k :: v :: tail if !v.startsWith("--") =>
          if (acc.contains(k.drop(2))) fail(s"$k given twice")
          pairs(tail, acc + (k.drop(2) -> v))
        case k :: _ => fail(s"$k needs a value")
      }
      if (argv.contains("--help"))
        Left(if (verb eq entry) (entry +: verbs).map(usage).mkString("\n\n") else usage(verb))
      else {
        val values = pairs(argv.toList, Map.empty) - selector
        values.keys.toSeq.sorted.find(k => !verb.byName.contains(k)).foreach(k => fail(s"unknown flag --$k"))
        for (f <- verb.flags; v <- values.get(f.name) if f.boolean && v != "true" && v != "false")
          fail(s"--${f.name} takes true or false, got '$v'")
        verb.flags.find(f => f.required && !values.contains(f.name)).foreach(f => fail(s"--${f.name} ${f.metavar} required"))
        Right(new Args(verb, values))
      }
    }
  }
}
