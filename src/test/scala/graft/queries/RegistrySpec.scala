package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

class RegistrySpec extends AnyFunSuite {

  test("a duplicated query name fails the registry build") {
    val d = Registry.byName("sink_csv_line")
    val e = intercept[IllegalArgumentException] {
      Registry.index(Seq(d, Registry.byName("sink_time_bucket"), d))
    }
    assert(e.getMessage.contains("duplicate query names: sink_csv_line"))
  }

  test("every query has an oracle: 201 of each, same names") {
    assert(SparkEntry.queries.size == 201)
    assert(SparkEntry.oracleSql.size == 201)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("no oracle string read a helper before it was initialised") {
    // an uninitialised helper val concatenates as the text `null`
    val hit = SparkEntry.oracleSql.collect {
      case (n, sql) if "\\bnull\\b".r.findFirstIn(sql).isDefined => n
    }
    assert(hit.isEmpty, s"oracles containing `null`: $hit")
  }

  test("name selection: all by name, the named ones, or a loud unknown") {
    assert(Registry.select(Nil).map(_.name) == Registry.byName.keys.toSeq.sorted)
    assert(Registry.select(Seq("sink_time_bucket", "bpe_train")).map(_.name) ==
      Seq("bpe_train", "sink_time_bucket"))
    val e = intercept[IllegalArgumentException] {
      Registry.select(Seq("bpe_train", "no_such_query"))
    }
    assert(e.getMessage.contains("unknown queries no_such_query"))
    assert(e.getMessage.contains("known: ") && e.getMessage.contains("bpe_train"))
  }
}
