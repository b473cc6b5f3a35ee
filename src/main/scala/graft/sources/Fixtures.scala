package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.{Scratch, Tables}

/** The one owner of the declared queries' staged fixtures.
  *
  * A staged fixture is demonstration layout a query reads but does not
  * measure: a clustered or partitioned manifest table with its indexes, a
  * bucketed table pair, a streaming arrivals directory. Building one costs
  * several write jobs, so it is built ONCE per key and reused:
  *
  *  - the key is the fixture name plus [[graft.Tables.contentToken]] of
  *    the testdata tables the build reads — a regenerated or rewritten
  *    sfDir re-stages instead of serving the stale layout;
  *  - every entry gets its own name (`graftstg_<fixture>_<n>`), used for
  *    its catalog and table names, so two sfDirs never share one;
  *  - a catalog fixture is registered in the CALLING session on every
  *    lookup (two idempotent conf sets) — Spark keeps catalog confs per
  *    session, and a fixture staged by one session must resolve in the
  *    next;
  *  - roots come from [[graft.Scratch]] and are deleted at JVM exit.
  *
  * The per-call catalogs of queries that rebuild their table on every
  * invocation go through [[catalog]], which keeps one root per (session,
  * catalog name). */
object Fixtures {
  private final class Entry[A](build: () => A) {
    // a failed build leaves the lazy val unset, so the next lookup retries
    lazy val value: A = build()
  }
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, Entry[_]]()
  private val serial = new java.util.concurrent.atomic.AtomicLong()

  /** `build(entryName)` once per (fixture, content of `tables` under `d`).
    * The build runs outside the map's lock, so it may stage other
    * fixtures. */
  def once[A](fixture: String, d: String, tables: String*)(
      build: String => A): A = {
    val key = s"$fixture|$d|" +
      Tables.contentToken(tables.map(t => s"$d/$t.parquet"))
    entries.computeIfAbsent(key, _ => new Entry(() =>
      build(s"graftstg_${fixture}_${serial.incrementAndGet()}")))
      .asInstanceOf[Entry[A]].value
  }

  /** A scratch directory filled by `stage` once per fixture key. */
  def scratch(fixture: String, d: String, tables: String*)(
      stage: String => Unit): String =
    once(fixture, d, tables: _*) { name =>
      val root = Scratch.dir(s"${name}_")
      stage(root)
      root
    }

  /** A catalog fixture: `build(catalog)` runs once per fixture key against
    * a fresh catalog with namespace `q`; every call registers that catalog
    * in `s`. Returns the catalog name and the build's result. */
  def staged[A](s: SparkSession, fixture: String, d: String,
      tables: String*)(build: String => A): (String, A) = {
    val (cat, root, a) = once(fixture, d, tables: _*) { name =>
      val root = Scratch.dir(s"${name}_")
      register(s, name, root)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.q")
      (name, root, build(name))
    }
    register(s, cat, root)
    (cat, a)
  }

  /** Registers catalog `name` in `s` with namespace `q`: a fresh scratch
    * root the first time this session asks, the same root afterwards (the
    * session caches the catalog instance on first use, so a new root would
    * never be read). */
  def catalog(s: SparkSession, name: String): Unit = {
    if (s.conf.getOption(s"spark.sql.catalog.$name.root").isEmpty)
      register(s, name, Scratch.dir(s"graft_${name}_"))
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.q")
  }

  private def register(s: SparkSession, name: String, root: String): Unit = {
    s.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.root", root)
  }

  /** The manifest directory a relation reads, if it is a manifest table. */
  def dir(p: LogicalPlan): Option[Path] = ManifestTable.of(p).map(_.dir)

  /** The manifest directory of catalog table `table`. */
  def dir(s: SparkSession, table: String): Path =
    ManifestTable.resolve(s, table, "fixture").dir

  /** The latest snapshot version of catalog table `table`. */
  def version(s: SparkSession, table: String): Int =
    Manifest.snapshotVersions(dir(s, table)).max

  /** Appends `df` to `table` as one single-file commit per distinct value of
    * column `by`, in value order, writing only `cols` (all of `df`'s
    * columns when empty). */
  def commitPer(table: String, df: DataFrame, by: String,
      cols: Seq[String] = Nil): Unit =
    df.select(by).distinct().orderBy(by).collect().map(_.get(0)).foreach {
      v =>
        val part = df.filter(df(by) === v)
        (if (cols.isEmpty) part else part.select(cols.map(part(_)): _*))
          .coalesce(1).writeTo(table).append()
    }
}
