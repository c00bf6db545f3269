package graft.perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit}

import graft.Tables
import graft.catalog.CatalogScanner
import graft.config.Configs
import graft.engine.{BuildResult, SchemaBuilderEngine}
import graft.generate.{Trifecta, YamlDocs}
import graft.model.{App, RawSchema, Relation}

/** The `schema_build` workload: one op is one full build of the generated
  * project (config load, catalog scan, rule pipeline, trifecta view
  * registration, SQL and YAML generation) in a fresh session with a fresh
  * output dir. */
object SchemaBuild {

  /** Layer probes per traced run; per-layer metrics are their medians. */
  val LayerProbes = 3

  final case class Project(dir: String, schemaDirs: Map[String, String],
      manifest: JsonNode)

  def load(inputs: String): Project = {
    val manifest = new ObjectMapper().readTree(Paths.get(inputs, "manifest.json").toFile)
    val project = manifest.get("project").asText
    val dirs = Configs.loadYamlMap(Paths.get(project, "schema_dirs.yml")).getOrElse(Map.empty)
      .map { case (k, v) => k -> String.valueOf(v) }
    Project(project, dirs, manifest)
  }

  def resolver(p: Project): (String, String) => String =
    (db, schema) => p.schemaDirs(s"$db.$schema")

  def build(spark: SparkSession, p: Project, out: String, trace: Tracer): Seq[BuildResult] = {
    val cfg = trace("config.load")(Configs.loadFromDir(p.dir))
    trace("engine.run")(new SchemaBuilderEngine(spark, cfg, resolver(p), out).run())
  }

  /** SHA-256 over the generated SQL and YAML files (relative path + bytes,
    * in path order), so two builds into different dirs compare equal. */
  def outputDigest(out: String): String = {
    val root = Paths.get(out)
    val files = Files.walk(root).iterator().asScala
      .filter(f => Files.isRegularFile(f) && (f.toString.endsWith(".sql") || f.toString.endsWith(".yml")))
      .toSeq.sortBy(root.relativize(_).toString)
    val md = MessageDigest.getInstance("SHA-256")
    files.foreach { f =>
      md.update(root.relativize(f).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def run(env: Env): Unit = {
    import env._
    val p = load(args("inputs"))
    val work = args("work")

    // setup: machinery warm-up on a session that is then discarded
    val m0 = System.nanoTime()
    val warm = spark.newSession()
    p.schemaDirs.values.foreach { d =>
      CatalogScanner.listTables(d).take(1).foreach { case (t, _) => Tables.load(warm, d, t).count() }
    }
    val setup = mutable.LinkedHashMap[String, Any]("session_s" -> sessionS,
      "machinery_s" -> (System.nanoTime() - m0) / 1e9)
    setup("total_s") = Main.sinceJvmStartS
    checkpoint("setup")

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    var first: Option[(SparkSession, Seq[BuildResult], String)] = None
    var pass = 0
    Main.passes(warmPasses) { () =>
      val out = s"$work/build-$pass"
      val c0 = Main.cpuS
      val t0 = System.nanoTime()
      tracer.op = pass
      val result = try {
        val session = spark.newSession()
        Right((session, tracer("op")(build(session, p, out, tracer))))
      } catch { case t: Throwable => Left(s"${t.getClass.getName}: ${t.getMessage}".take(300)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Main.cpuS - c0
      val digest = result.toOption.map(_ => outputDigest(out)).getOrElse("")
      ops += Map("pass" -> pass, "name" -> "build", "family" -> "SchemaBuild",
        "wall_s" -> wall, "status" -> (if (result.isRight) "ok" else "error"),
        "detail" -> result.left.getOrElse(""), "digest" -> digest)
      passes += Map("wall_s" -> wall, "cpu_s" -> cpu, "traced" -> traced)
      checkpoint(s"pass$pass")
      result.foreach { case (s, r) => if (first.isEmpty) first = Some((s, r, out)) }
      pass += 1
    }
    // untimed: rule checks on the first successful build
    first.foreach { case (s, results, out) => checks ++= verify(s, p, results, out) }
    if (traced) {
      // one untraced build: the tracing overhead is the traced warm build
      // time minus this one
      val t0 = System.nanoTime()
      build(spark.newSession(), p, s"$work/build-quiet", new Tracer(false, None, None))
      passes += Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> 0.0, "traced" -> false)
      // the layer probes, as ops -2, -3, ...; each must write what the
      // engine wrote
      val want = first.map(f => outputDigest(f._3))
      val probes = (0 until LayerProbes).map { i =>
        tracer.op = -2 - i
        val out = s"$work/layers-$i"
        val counts = layeredBuild(spark.newSession(), p, out, tracer)
        (counts, want.contains(outputDigest(out)))
      }
      val differ = probes.indices.filterNot(probes(_)._2)
      checks += Map("name" -> "layered_build_matches_engine",
        "status" -> (if (differ.isEmpty) "ok" else "fail"),
        "detail" -> differ.map(i => s"probe $i wrote other SQL or YAML than the engine").mkString("; "))
      record("catalog") = Map("tables" -> probes.head._1._1, "columns" -> probes.head._1._2)
    }
    checkpoint("teardown")

    record("setup") = setup
    record("ops") = ops
    record("passes") = passes
    record("checkpoints") = checkpoints
    record("checks") = checks
    record("leaked") = spark.sparkContext.getPersistentRDDs.toSeq.map { case (id, r) => s"id=$id ${r.name}" }
    if (traced) record("spans") = spansJson
  }

  /** The schema builder's rules, checked against one build's views and
    * files. Each check is reported by name with a pass/fail and detail. */
  def verify(spark: SparkSession, p: Project, results: Seq[BuildResult],
      out: String): Seq[Map[String, Any]] = {
    val m = p.manifest
    def check(name: String)(body: => Seq[String]): Map[String, Any] = {
      val bad = try body catch { case t: Throwable => Seq(s"exception: $t") }
      Map("name" -> name, "status" -> (if (bad.isEmpty) "ok" else "fail"),
        "detail" -> bad.take(5).mkString("; "))
    }
    val banned = m.get("banned").asText
    val sdCol = m.get("soft_delete").get(0).asText
    val relations = results.flatMap(r => r.relations.map(r -> _))
    val managed = relations.filterNot(_._2.isUnmanaged)
    val sqlFiles = Files.walk(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".sql")).map(_.getFileName.toString.stripSuffix(".sql")).toSet
    val allText = Files.walk(Paths.get(out)).iterator().asScala
      .filter(f => Files.isRegularFile(f)).map(Files.readString(_)).mkString("\n")
    def rawDir(rel: Relation): String =
      p.schemaDirs(s"RAW.RAW_${rel.app}")
    val expected = m.get("schemas").fields().asScala.map(_.getValue.size).sum -
      m.get("excluded").size
    Seq(
      check("relations_built") {
        if (relations.size == expected) Nil
        else Seq(s"${relations.size} relations, expected $expected")
      },
      check("trifecta_columns") {
        managed.flatMap { case (r, rel) =>
          val raw = Tables.load(spark, rawDir(rel), rel.sourceRelationName).columns.toSeq
            .filterNot(_ == banned)
          val safe = r.safeViews(rel.newSafeRelationName).columns.toSeq
          val pii = r.piiViews(rel.newPiiRelationName).columns.toSeq
          if (raw == safe && raw == pii) None
          else Some(s"${rel.sourceRelationName}: raw $raw safe $safe pii $pii")
        }
      },
      check("redacted_literals") {
        managed.flatMap { case (r, rel) =>
          val key = s"${rel.app}.${rel.relation}"
          Option(m.get("redactions").get(key)).toSeq.flatMap { cols =>
            cols.fieldNames().asScala.flatMap { c =>
              val lit = cols.get(c).asText.stripPrefix("'").stripSuffix("'")
              val v = r.safeViews(rel.newSafeRelationName)
              val wrong = v.filter(col(c) =!= lit || col(c).isNull).count()
              if (wrong == 0) None else Some(s"$key.$c: $wrong unredacted rows")
            }
          }
        }
      },
      check("soft_deleted_absent") {
        managed.filter(_._2.metaData.contains(sdCol)).flatMap { case (r, rel) =>
          val raw = Tables.load(spark, rawDir(rel), rel.sourceRelationName)
          val live = raw.filter(col(sdCol).isNull).count()
          Seq("SAFE" -> r.safeViews(rel.newSafeRelationName),
            "PII" -> r.piiViews(rel.newPiiRelationName)).flatMap { case (kind, v) =>
            val row = v.agg(count(lit(1)), count(col(sdCol))).head()
            if (row.getLong(0) == live && row.getLong(1) == 0) None
            else Some(s"${rel.sourceRelationName} $kind: ${row.getLong(0)} rows " +
              s"(${row.getLong(1)} deleted), expected $live live")
          }
        }
      },
      check("banned_absent") {
        val inViews = results.flatMap(r => (r.safeViews ++ r.piiViews).collect {
          case (n, v) if v.columns.contains(banned) => n })
        inViews ++ (if (allText.contains(banned)) Seq(s"$banned in generated files") else Nil)
      },
      check("excluded_and_unmanaged_have_no_model") {
        val prefix = m.get("prefix").asText
        // model names an excluded or unmanaged RAW_<APP>.<TABLE> must not get
        val forbidden = (m.get("excluded").asScala ++ m.get("unmanaged").asScala).flatMap { e =>
          val Array(schema, table) = e.asText.split('.')
          val app = schema.stripPrefix("RAW_")
          val alias = if (app == "CRM") s"${prefix}_$table" else table
          Seq(s"${app}_$alias", s"${app}_PII_$alias")
        }.toSeq
        val views = results.flatMap(r => r.safeViews.keys ++ r.piiViews.keys).toSet
        val hits = forbidden.filter(n => sqlFiles(n) || views(n)).map(n => s"$n has a model")
        val unmanaged = relations.count(_._2.isUnmanaged)
        val want = m.get("unmanaged").size
        hits ++ (if (unmanaged == want) Nil else Seq(s"$unmanaged unmanaged tables recognised, expected $want"))
      },
      check("keyword_tables_aliased") {
        m.get("keyword_tables").asScala.map(_.asText.split('.')).flatMap { case Array(schema, t) =>
          relations.collect { case (_, rel) if rel.app == schema.stripPrefix("RAW_") &&
              rel.sourceRelationName == t && rel.relation == t => s"$t kept its reserved name" }
        }.toSeq
      })
  }

  /** Per-layer probe: a replica of `SchemaBuilderEngine.buildApp` made of
    * the same public calls in the same order, each layer in its own span
    * under `engine.build`, so the build's self time is what no layer
    * covers. `run` checks that it writes the same SQL and YAML as the
    * engine. Returns the catalog's (tables, columns). */
  def layeredBuild(spark: SparkSession, p: Project, out: String, trace: Tracer): (Int, Int) = {
    val cfg = trace("config.load")(Configs.loadFromDir(p.dir))
    val engine = new SchemaBuilderEngine(spark, cfg, resolver(p), out)
    var tables, columns = 0
    trace("engine.build") {
      cfg.schemaConfig.foreach { case (appDest, appConfig) =>
        val Array(destDatabase, appName) = appDest.split("\\.", 2)
        val appPath = Files.createDirectories(Paths.get(out, destDatabase, appName)).toString
        val designFile = Paths.get(appPath, s"$appName.yml")
        val downstreamFile = Paths.get(out, "downstream", destDatabase, s"$appName.yml")
        val (currentRaw, currentDownstream) =
          trace("generate.yaml")((YamlDocs.read(designFile), YamlDocs.read(downstreamFile)))
        val rawSchemas = appConfig.map { case (src, opts) =>
          val Array(srcDb, srcSchema) = src.split("\\.", 2)
          val schema = RawSchema.fromConfig(srcDb, srcSchema, opts)
          val dir = resolver(p)(srcDb, srcSchema)
          val rows = trace("catalog.scan")(CatalogScanner.run(spark, srcSchema, dir,
            cfg.bannedColumnNames))
          tables += rows.map(_.tableName).distinct.size
          columns += rows.size
          trace("model.build") {
            schema.relations = CatalogScanner.getRelations(rows).map { case (t, cols) =>
              Relation(t, cols, appName, appPath, cfg.keywords, cfg.unmanagedTables,
                cfg.redactions, cfg.downstreamSourcesAllowList, schema.prefix)
            }.toSeq
          }
          (schema, dir)
        }.toSeq
        val app = trace("model.build")(new App(rawSchemas.map(_._1), appName, appPath,
          designFile.toString, currentRaw, currentDownstream, destDatabase))
        engine.cleanSqlFiles(appName, appPath)
        rawSchemas.foreach { case (schema, dir) =>
          trace("model.build")(schema.filterRelations()).foreach { r =>
            trace("model.build") {
              val (raw, safe, pii) = r.findInCurrentSources(currentRaw, currentDownstream)
              app.addSourceToNewSchema(raw, r, schema)
              app.addTableToDownstreamSources(r, safe, pii)
              app.updateTrifectaModels(r)
            }
            if (!r.isUnmanaged) {
              trace("generate.render") {
                val dict = r.prepMetaData
                Seq("SAFE" -> r.app, "PII" -> s"${r.app}_PII").foreach { case (kind, sub) =>
                  val d = Files.createDirectories(Paths.get(r.appPath, sub))
                  Files.writeString(d.resolve(s"${r.getModelName(kind)}.sql"),
                    Trifecta.renderSql(r.app, kind, dict, schema, cfg.redactions))
                }
              }
              val source = trace("sources.load")(Tables.load(spark, dir, r.sourceRelationName))
              trace("generate.views") {
                Trifecta.safeView(source, r, schema).createOrReplaceTempView(r.newSafeRelationName)
                Trifecta.piiView(source, r, schema).createOrReplaceTempView(r.newPiiRelationName)
              }
            }
          }
        }
        trace("generate.yaml")(YamlDocs.write(designFile, app.newSchema))
        trace("model.build")(app.checkDownstreamSourcesForDupes())
        trace("generate.yaml")(YamlDocs.write(downstreamFile, app.newDownstreamSources))
      }
    }
    (tables, columns)
  }

  private implicit class JsonIter(n: JsonNode) {
    def asScala: Iterator[JsonNode] = n.elements().asScala
  }
}
