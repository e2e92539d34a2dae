package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.edn.Edn
import graft.edn.Edn._

class EdnSpec extends AnyFunSuite {

  test("scalars") {
    assert(Edn.parse("nil") == ENil)
    assert(Edn.parse("true") == EBool(true))
    assert(Edn.parse("-42") == ELong(-42))
    assert(Edn.parse("3.14") == EDouble(3.14))
    assert(Edn.parse("\"a\\\"b\\nc\"") == EStr("a\"b\nc"))
    assert(Edn.parse(":artist/gid") == EKw("artist", "gid"))
    assert(Edn.parse(":gid") == EKw("", "gid"))
    assert(Edn.parse("foo/bar") == ESym("foo", "bar"))
  }

  test("uuid tagged literal normalizes to lowercase") {
    assert(Edn.parse("#uuid \"D34EEF69-C852-4BC6-93AA-69D0A0255EE1\"") ==
      EUuid("d34eef69-c852-4bc6-93aa-69d0a0255ee1"))
  }

  test("collections and comments") {
    assert(Edn.parse("[1 2, 3]") == EVec(Vector(ELong(1), ELong(2), ELong(3))))
    assert(Edn.parse("(1 2)") == EList(Vector(ELong(1), ELong(2))))
    assert(Edn.parse("#{1 2}") == ESet(Vector(ELong(1), ELong(2))))
    assert(Edn.parse("; comment\n[1] ; trailing") == EVec(Vector(ELong(1))))
    assert(Edn.parse("#_ {:skip 1} [2]") == EVec(Vector(ELong(2))))
  }

  test("#_ discard is a no-value operation, not a phantom form") {
    assert(Edn.parse("[1 2 #_3]") == EVec(Vector(ELong(1), ELong(2))),
      "discard as last element of a collection")
    assert(Edn.parseAll("1 #_2") == Vector(ELong(1)),
      "trailing top-level discard is legal EDN")
    assert(Edn.parseAll("#_1") == Vector.empty)
    assert(Edn.parse("[#_ #_ 1 2 3]") == EVec(Vector(ELong(3))),
      "stacked discards drop two forms")
    assert(Edn.parse("{:a #_:b 1}").asInstanceOf[EMap].getKw("a").contains(ELong(1)))
    intercept[Edn.ParseException](Edn.parseAll("#_"))
  }

  test("reader streams: Parser over a java.io.Reader equals String parse") {
    val text = "{:a 1}\n[1 2 #_3]\n#uuid \"D34EEF69-C852-4BC6-93AA-69D0A0255EE1\""
    val viaString = Edn.parseAll(text)
    val p = new Edn.Parser(new java.io.StringReader(text))
    val viaReader = Iterator.continually(p.nextForm()).takeWhile(_.isDefined).map(_.get).toVector
    assert(viaString == viaReader)
  }

  test("map preserves insertion order but equality is unordered") {
    val m = Edn.parse("{:b 2 :a 1}").asInstanceOf[EMap]
    assert(m.entries.map(_._1) == Vector(EKw("", "b"), EKw("", "a")))
    assert(m == Edn.parse("{:a 1 :b 2}"))
  }

  test("namespaced map syntax") {
    val m = Edn.parse("#:artist{:gid 1, :db/id 2}").asInstanceOf[EMap]
    assert(m.get(EKw("artist", "gid")).contains(ELong(1)))
    assert(m.get(EKw("db", "id")).contains(ELong(2)))
    assert(m == Edn.parse("{:artist/gid 1 :db/id 2}"))
  }

  test("nested golden-shaped form round-trips") {
    val s = """{:batch-ident {:db/id "datomic.tx", :mbrainz.initial-import/batch-id "artists-1"},
               | :data [#:artist{:sortName "X", :gid #uuid "d34eef69-c852-4bc6-93aa-69d0a0255ee1",
               |                 :type :artist.type/person, :startYear 1943}]}""".stripMargin
    val v = Edn.parse(s)
    assert(Edn.parse(Edn.print(v)) == v)
  }

  test("parseAll streams multiple forms") {
    assert(Edn.parseAll("{:a 1}\n{:b 2}").size == 2)
  }

  test("reference entity files parse completely") {
    val artists = Edn.parseAll(graft.sources.EdnSource.readText(
      MbrainzFixture.entityPath("artists")))
    assert(artists.size == MbrainzFixture.truth.artistGids.size)
    val schema = Edn.parse(graft.sources.EdnSource.readText(
      MbrainzFixture.schemaPath)).asInstanceOf[EVec]
    assert(schema.items.size == MbrainzFixture.truth.nSchemaAttrs)
  }
}
