package graft.engine

import graft.SparkSpec

/** The engine's command table, checked without running a Spark job:
  * every entry is reached by exactly one canonical example, every
  * example's lock class is pinned as a literal, and a command no entry
  * matches fails as `unknown command`. A pin changes only together with
  * the reason beside its entry in [[Engine.commands]]; the pins marked
  * `IndexStore commit` are Write because that commit is a single-writer
  * protocol. */
class CommandTableSpec extends SparkSpec {
  import Engine.{Read, Unguarded, Write}

  private val pinned: Seq[(String, Engine.Lock)] = Seq(
    "sql edge format = table \"select count(*) from t\"" -> Read,
    "explain sql edge \"select count(*) from t\"" -> Read,
    "get queries time where format = json" -> Read,
    "get query log" -> Read,
    "get event log" -> Read,
    "get error log" -> Read,
    "reset event log" -> Write,
    "reset error log" -> Write,
    "reset query log" -> Write,
    "reset queries time" -> Write,
    "set query log profile 2 seconds" -> Write,
    "get streaming" -> Read,
    "get status" -> Read,
    "create view v on t (a as b)" -> Write,
    "partition t using ts by 1 day into /data/tp" -> Write,
    "drop partition t before 2024-01-01" -> Write,
    "rollup create where table = t" -> Write,
    "rollup sync where table = t" -> Write,
    "rollup refresh where table = t" -> Write,
    "rollup delete where table = t" -> Write,
    "rollup attach where table = t" -> Write,
    "rollup drop where table = t" -> Write,
    "get rollups" -> Read,
    "vindex create where table = t" -> Write,
    "vindex sync where table = t" -> Write,
    "vindex refresh where table = t" -> Write,
    "vindex delete where table = t" -> Write,
    "vindex search where table = t" -> Read,
    "vindex negatives where table = t" -> Read,
    "vindex attach where table = t" -> Write,
    "vindex drop where table = t" -> Write,
    "get vindexes" -> Read,
    "tindex create where table = t" -> Write,
    "tindex sync where table = t" -> Write,
    "tindex refresh where table = t" -> Write,
    "tindex delete where table = t" -> Write,
    "tindex search where table = t" -> Read,
    "tindex phrase where table = t" -> Read,
    "tindex near where table = t" -> Read,
    "tindex snippet where table = t" -> Read,
    "tindex like where table = t" -> Read,
    "tindex attach where table = t" -> Write,
    "tindex drop where table = t" -> Write,
    "get tindexes" -> Read,
    "hybrid search where table = t" -> Read,
    "sindex create where table = t" -> Write,
    "sindex sync where table = t" -> Write,
    "sindex refresh where table = t" -> Write,
    "sindex estimate where table = t" -> Read,
    "sindex overlap where table = t" -> Read,
    "sindex attach where table = t" -> Write,
    "sindex drop where table = t" -> Write,
    "get sindexes" -> Read,
    "graph tricount create where edges = e" -> Write, // IndexStore commit
    "graph tricount refresh where path = /a/g" -> Write, // IndexStore commit
    "graph tricount get where path = /a/g" -> Read,
    "graph pagerank where edges = e" -> Read,
    "compact where table = t" -> Write,
    "merge scd2 into t using b on id at ts" -> Write,
    "merge into t using b on id" -> Write,
    "monitor psi create where table = t" -> Write, // IndexStore commit
    "monitor psi check where path = /a/p" -> Read,
    "monitor attach where table = t" -> Write,
    "monitor create where table = t" -> Write,
    "monitor refresh where table = t" -> Write,
    "monitor level where table = t" -> Read,
    "monitor drop where table = t" -> Write,
    "get monitors" -> Read,
    "layout attach where table = t" -> Write,
    "layout zorder where table = t" -> Write,
    "layout refresh where table = t" -> Write,
    "layout scan where table = t" -> Write,
    "layout drop where table = t" -> Write,
    "get layouts" -> Read,
    "suggest create t from [{\"a\": 1}]" -> Read,
    "get columns t" -> Read,
    "policy add p1 {\"mapping\": {}}" -> Read,
    "policy get p1" -> Read,
    "blockchain insert where policy = {}" -> Read,
    "blockchain get operator where ip = 10.0.0.1 bring [ip]" -> Read,
    "set view auto refresh = off" -> Write,
    "set node_name = edge1" -> Write,
    "get partitions t" -> Read,
    "get rows count where dbms = edge" -> Read,
    "get tsd list t" -> Read,
    "get tsd diff where peer = p" -> Read,
    "get tsd export" -> Read,
    "pipeline clean where table = t" -> Write,
    "quality check where table = t" -> Read,
    "profile table where table = t" -> Read,
    "join matview create where path = /a/j" -> Write,
    "join matview refresh where path = /a/j" -> Write,
    "join matview delete where path = /a/j" -> Write,
    "join matview sync where path = /a/j" -> Write,
    "join matview get where path = /a/j" -> Read,
    "join matview attach where path = /a/j" -> Write,
    "matview create where table = t" -> Write,
    "matview refresh where path = /a/mv" -> Write,
    "matview delete where path = /a/mv" -> Write,
    "matview sync where table = t" -> Write,
    "matview get where path = /a/mv" -> Read,
    "matview attach where table = t" -> Write,
    "get matviews" -> Read,
    "dedup index create where table = t" -> Write,
    "dedup index attach where table = t" -> Write,
    "dedup index sync where table = t" -> Write,
    "dedup index refresh where table = t" -> Write,
    "dedup index delete where path = /a/d" -> Write,
    "dedup index drop where table = t" -> Write,
    "get dedup indexes" -> Read,
    "sync all where table = t" -> Write,
    "artifact verify where table = t" -> Read,
    "get artifacts" -> Read,
    "attach all" -> Write,
    "index versions where path = /a/mv" -> Read,
    "index retain where path = /a/mv" -> Read,
    "index get where path = /a/mv" -> Read,
    "get view auto refresh" -> Read,
    "connect dbms remote where type = jdbc" -> Write,
    "run msg client where broker = 127.0.0.1" -> Write,
    "exit msg client" -> Write,
    "run scheduler 1" -> Write,
    "exit scheduler 1" -> Write,
    "schedule time = 10 seconds" -> Write,
    "task stop where name = \"n\"" -> Write,
    "get scheduler 1" -> Read,
    "test table t where dbms = edge" -> Read,
    "get archive file 0123abcd" -> Read,
    "delete archive where days = 7" -> Write,
    "run ha sync where peer = 127.0.0.1:7849" -> Write,
    "run streamer where dir = /a/w" -> Write,
    "exit streamer t" -> Unguarded,
    "run kafka consumer where ip = 127.0.0.1" -> Write,
    "exit kafka consumer" -> Unguarded,
    "run plc client where type = modbus" -> Write,
    "get plc clients" -> Read,
    "get plc values where type = modbus" -> Read,
    "get plc struct where type = modbus" -> Read,
    "exit plc all" -> Unguarded,
    "get processes where format = json" -> Read,
    "get dictionary" -> Read,
    "get tables" -> Read,
    "get views" -> Read)

  private lazy val engine = new Engine(spark, new Catalog(spark))

  test("every entry has one canonical example that resolves to it alone") {
    val resolved = pinned.map { case (ex, _) =>
      engine.entryOf(ex).getOrElse(fail(s"no entry for: $ex"))
    }
    assert(resolved.distinct.size === pinned.size,
      "two examples resolve to one entry")
    assert(resolved.toSet === engine.commands.toSet,
      "an entry has no canonical example")
    assert(engine.commands.map(_.prefix).distinct.size ===
      engine.commands.size, "two entries share a prefix")
    // no overlap left to order: exactly one entry is the longest match
    pinned.foreach { case (ex, _) =>
      val hits = engine.commands.filter(_.matches(ex.toLowerCase))
      val longest = hits.map(_.prefix.length).max
      assert(hits.count(_.prefix.length == longest) === 1, ex)
    }
  }

  test("every command's lock class is pinned") {
    pinned.foreach { case (ex, lock) =>
      assert(engine.entryOf(ex).map(_.lock).contains(lock), ex)
    }
  }

  test("resolution ignores case and surrounding whitespace") {
    assert(engine.entryOf("  SET View Auto Refresh = on ").map(_.prefix)
      .contains("set view auto refresh"))
    assert(engine.entryOf("GET TABLES").map(_.prefix).contains("get tables"))
    assert(engine.entryOf("get tables now").isEmpty)
  }

  test("an unknown command throws and lands in the error log") {
    Seq("frobnicate the widgets", "set verbose", "compact t",
        "layout flip where table = t").foreach { c =>
      val e = intercept[IllegalArgumentException](engine.execute(c))
      assert(e.getMessage === s"unknown command: $c")
      assert(engine.execute("get error log")
        .contains(s"$c -> unknown command: $c"), c)
    }
  }

  test("a missing required option names the command and the key") {
    Seq(
      "rollup create where" -> "rollup create requires table =",
      "rollup sync where" -> "rollup sync requires table =",
      "rollup refresh where" -> "rollup refresh requires table =",
      "rollup delete where" -> "rollup delete requires table =",
      "rollup attach where" -> "rollup attach requires table =",
      "rollup drop where" -> "rollup drop requires table =",
      "vindex create where" -> "vindex create requires table =",
      "vindex sync where" -> "vindex sync requires table =",
      "vindex refresh where" -> "vindex refresh requires table =",
      "vindex delete where" -> "vindex delete requires table =",
      "vindex search where" -> "vindex search requires table =",
      "vindex negatives where" -> "vindex negatives requires table =",
      "vindex attach where" -> "vindex attach requires table =",
      "vindex drop where" -> "vindex drop requires table =",
      "tindex create where" -> "tindex create requires table =",
      "tindex refresh where" -> "tindex refresh requires table =",
      "tindex delete where" -> "tindex delete requires table =",
      "tindex search where" -> "tindex search requires table =",
      "tindex phrase where" -> "tindex phrase requires table =",
      "tindex near where" -> "tindex near requires table =",
      "tindex snippet where" -> "tindex snippet requires table =",
      "tindex like where" -> "tindex like requires table =",
      "tindex attach where" -> "tindex attach requires table =",
      "tindex drop where" -> "tindex drop requires table =",
      "hybrid search where" -> "hybrid search requires table =",
      "sindex create where" -> "sindex create requires table =",
      "sindex refresh where" -> "sindex refresh requires table =",
      "sindex estimate where" -> "sindex estimate requires table =",
      "sindex overlap where" -> "sindex overlap requires table =",
      "sindex attach where" -> "sindex attach requires table =",
      "sindex drop where" -> "sindex drop requires table =",
      "matview create where" -> "matview create requires spec =",
      "matview attach where" -> "matview attach requires table =",
      "matview refresh where" -> "matview refresh requires path =",
      "matview delete where" -> "matview delete requires path =",
      "matview sync where" -> "matview sync requires table =",
      "matview get where" -> "matview get requires path =",
      "join matview create where" -> "join matview create requires spec =",
      "join matview refresh where" -> "join matview refresh requires path =",
      "join matview delete where" -> "join matview delete requires path =",
      "join matview sync where" -> "join matview sync requires path =",
      "join matview get where" -> "join matview get requires path =",
      "join matview attach where" -> "join matview attach requires path =",
      "dedup index create where" -> "dedup index create requires table =",
      "dedup index attach where" -> "dedup index attach requires table =",
      "dedup index refresh where" -> "dedup index refresh requires table =",
      "dedup index delete where" -> "dedup index delete requires path =",
      "dedup index drop where" -> "dedup index drop requires table =",
      "monitor psi create where" -> "monitor psi create requires table =",
      "monitor psi check where" -> "monitor psi check requires path =",
      "monitor create where" -> "monitor create requires table =",
      "monitor attach where" -> "monitor attach requires table =",
      "monitor refresh where" -> "monitor refresh requires table =",
      "monitor level where" -> "monitor level requires table =",
      "monitor drop where" -> "monitor drop requires table =",
      "layout zorder where" -> "layout zorder requires table =",
      "layout attach where" -> "layout attach requires table =",
      "layout refresh where" -> "layout refresh requires table =",
      "layout scan where" -> "layout scan requires table =",
      "layout drop where" -> "layout drop requires table =",
      "profile table where" -> "profile table requires table =",
      "artifact verify where" -> "artifact verify requires table =",
      "sync all where" -> "sync all requires table =",
      "run streamer where" -> "run streamer requires dir =",
      "run msg client where" -> "run msg client requires broker =",
      "run kafka consumer where" -> "run kafka consumer requires ip =",
      "run plc client where" -> "run plc client requires type =",
      "get plc values where" -> "get plc values requires type =",
      "get plc struct where" -> "get plc struct requires type =",
      "connect dbms where" -> "connect dbms requires url =",
      "graph tricount create where" -> "graph tricount requires path =",
      "graph tricount refresh where" -> "graph tricount requires path =",
      "graph tricount get where" -> "graph tricount requires path =",
      "graph pagerank where" -> "graph command requires edges =",
      "compact where" -> "compact requires table =",
      "index versions where" -> "index command requires path =",
      "index retain where" -> "index command requires path =",
      "index get where" -> "index command requires path =",
      "index retain where path = /nowhere" -> "index retain requires keep =")
      .foreach { case (c, msg) =>
        val e = intercept[IllegalArgumentException](engine.execute(c))
        assert(e.getMessage === msg, c)
      }
  }
}
