package graft

import graft.adapters.SnowflakeAdapter
import graft.load.YamlTree
import org.scalatest.funsuite.AnyFunSuite
import org.yaml.snakeyaml.error.YAMLException

/** The one YAML reader every importer goes through (graft.load.YamlTree). */
class YamlTreeSpec extends AnyFunSuite {

  // a global tag that a permissive constructor would instantiate
  private val gadget = "!!javax.script.ScriptEngineManager " +
    "[!!java.net.URLClassLoader [[!!java.net.URL [\"file:///nonexistent/\"]]]]"

  test("a global tag is refused, directly and through an importer") {
    val direct = intercept[YAMLException](YamlTree.parse(gadget))
    assert(direct.getMessage.contains("javax.script.ScriptEngineManager"))
    val imported = intercept[YAMLException](
      SnowflakeAdapter.loadString(s"name: m\ntables: $gadget\n"))
    assert(imported.getMessage.contains("javax.script.ScriptEngineManager"))
  }

  test("an explicit null reads the same as an absent key") {
    val m = YamlTree.parse("tags:\nitems:\nconfig:\n").asInstanceOf[Map[String, Any]]
    assert(m.keySet == Set("tags", "items", "config") && m("tags") == null)
    for (k <- Seq("tags", "items", "config", "absent")) {
      assert(YamlTree.strList(m.get(k)) == Nil)
      assert(YamlTree.seqOfMaps(m.get(k)) == Nil)
      assert(YamlTree.mapOf(m.get(k)).isEmpty)
    }
  }

  test("a scalar reads as a one-element strList") {
    val m = YamlTree.parse("tags: finance\nkeys: [a, 2]\n").asInstanceOf[Map[String, Any]]
    assert(YamlTree.strList(m.get("tags")) == Seq("finance"))
    assert(YamlTree.strList(m.get("keys")) == Seq("a", "2"))
  }

  test("nested java maps and lists come back as a Scala tree") {
    val tree = YamlTree.parse("a:\n  b: [1, {c: d}]\n  e: {f: [x]}\n")
    assert(tree == Map("a" -> Map(
      "b" -> Seq(1, Map("c" -> "d")),
      "e" -> Map("f" -> Seq("x")))))
    assert(YamlTree.seqOfMaps(Some(Seq(Map("c" -> "d"), "skipped"))) ==
      Seq(Map("c" -> "d")))
    assert(YamlTree.parseAll("a: 1\n---\n---\n- b\n") == Seq(Map("a" -> 1), Seq("b")))
    assert(YamlTree.parse("") == null)
  }

  test("readText replaces malformed UTF-8 instead of throwing") {
    val f = java.nio.file.Files.createTempFile("graft_yamltree", ".yml")
    try {
      java.nio.file.Files.write(f, Array[Byte]('a', 0xff.toByte, 'b'))
      assert(YamlTree.readText(f.toString) == "a\uFFFDb")
    } finally java.nio.file.Files.delete(f)
  }
}
