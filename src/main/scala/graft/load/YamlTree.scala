package graft.load

import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import scala.jdk.CollectionConverters._

/** How every importer reads YAML. Text becomes a Scala tree: mappings are
  * `Map[String, Any]`, sequences `Seq[Any]`, scalars stay as snakeyaml
  * builds them, and an empty value (`key:` with nothing after it) is
  * `null`. The readers below treat that null exactly like an absent key.
  *
  * A global tag (`!!javax.script.ScriptEngineManager [...]`) is refused,
  * and the SafeConstructor builds standard YAML types only, so no document
  * names a class to instantiate. snakeyaml's `Yaml` is not thread-safe, so
  * every call builds its own. */
private[graft] object YamlTree {

  private def yaml() = new Yaml(new SafeConstructor(new LoaderOptions()))

  /** One document; null when the text holds none. */
  def parse(text: String): Any = toScala(yaml().load[Object](text))

  /** Every `---`-separated document, empty ones dropped. */
  def parseAll(text: String): Seq[Any] =
    yaml().loadAll(text).asScala.toSeq.flatMap(Option(_)).map(toScala)

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case other => other
  }

  /** The mapping entries of a list; non-mapping entries are skipped. */
  def seqOfMaps(v: Option[Any]): Seq[Map[String, Any]] = v match {
    case Some(l: Seq[_]) =>
      l.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
    case _ => Nil
  }

  /** A list rendered as strings; a lone scalar is a one-element list. */
  def strList(v: Option[Any]): Seq[String] = v.flatMap(Option(_)) match {
    case Some(l: Seq[_]) => l.map(_.toString)
    case Some(s)         => Seq(s.toString)
    case None            => Nil
  }

  /** The mapping, if the value is one. */
  def mapOf(v: Option[Any]): Option[Map[String, Any]] =
    v.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }

  /** A file's text. The String constructor replaces malformed UTF-8;
    * `Files.readString` would throw on it. */
  def readText(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
}
