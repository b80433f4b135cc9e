package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sched.TaskRun

/** Lineage export — the reference dashboard's data contract (metadata/
  * dashboard: the resource DAG the UI renders plus each node's latest
  * task-run state, metadata/metadata.go resource links + scheduling task
  * runs) as one exported document over the in-process [[Catalog]] and the
  * [[graft.sched.TaskRunner]] ledger.
  *
  * Edges follow the reference's dependency model: a transformation
  * depends on its `{{name.variant}}` template refs (or DF inputs), a
  * feature/label on its source, a training set on its label, features,
  * and lag features, a model on the features/training sets it consumes.
  * Everything here is metadata-scale (names and edges); the export is a
  * driver-built DataFrame by construction. */
object Lineage {

  /** (resource, resource_type, depends_on, dep_type) edge list in
    * registration order; roots (primary-data sources, entities) emit one
    * row with depends_on = null. */
  def edges(cat: Catalog): Seq[(String, String, Option[String], Option[String])] = {
    val srcType = cat.allSources.map(s => s.id.toString -> "source").toMap
    def typeOf(id: String): String =
      if (srcType.contains(id)) "source"
      else if (cat.allFeatures.exists(_.id.toString == id)) "feature"
      else if (cat.allLabels.exists(_.id.toString == id)) "label"
      else if (cat.allTrainingSets.exists(_.id.toString == id)) "training_set"
      else "unknown"
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Option[String], Option[String])]
    def dep(res: String, resType: String, on: String): Unit =
      out += ((res, resType, Some(on), Some(typeOf(on))))
    cat.allSources.foreach { s =>
      s.definition match {
        case PrimaryData(_, _, _, _) =>
          out += ((s.id.toString, "source", None, None))
        case SqlTransformation(q) =>
          graft.transform.SqlTransform.sourcesOf(q)
            .foreach(r => dep(s.id.toString, "source", r.toString))
        case DfTransformation(inputs, _, _) =>
          inputs.foreach(r => dep(s.id.toString, "source", r.toString))
      }
    }
    cat.allFeatures.foreach(f =>
      dep(f.id.toString, "feature", f.source.toString))
    cat.allLabels.foreach(l =>
      dep(l.id.toString, "label", l.source.toString))
    cat.allTrainingSets.foreach { ts =>
      dep(ts.id.toString, "training_set", ts.label.toString)
      ts.features.foreach(f => dep(ts.id.toString, "training_set", f.toString))
      ts.lags.foreach(lg =>
        dep(ts.id.toString, "training_set", lg.feature.toString))
    }
    cat.allModels.foreach { m =>
      m.features.foreach(f => dep(m.name, "model", f.toString))
      m.trainingSets.foreach(t => dep(m.name, "model", t.toString))
    }
    out.toSeq
  }

  /** The dashboard export as a DataFrame: the edge list joined with each
    * resource's LATEST run record (max attempt of the lexicographically
    * largest runKey; resources with no runs show status null, attempts 0).
    * Task names in the ledger are matched to resource names (the task-per-
    * resource convention of the coordinator). */
  def export(spark: SparkSession, cat: Catalog,
             runs: Seq[TaskRun]): DataFrame = {
    val latest: Map[String, TaskRun] = runs.groupBy(_.task).map {
      case (t, rs) => t -> rs.maxBy(r => (r.runKey, r.attempt))
    }
    val attempts: Map[String, Int] = runs.groupBy(_.task).map {
      case (t, rs) =>
        val lk = rs.map(_.runKey).max
        t -> rs.count(_.runKey == lk)
    }
    val rows = edges(cat).map { case (res, typ, on, onTyp) =>
      val name = ResourceId.parse(res).name
      (res, typ, on.orNull, onTyp.orNull,
        latest.get(name).map(_.status).orNull,
        attempts.getOrElse(name, 0).toLong)
    }
    import spark.implicits._
    rows.toDF("resource", "resource_type", "depends_on", "dep_type",
      "last_status", "n_attempts")
  }

  /** One JSON document — nodes, edges, runs — the single-file contract a
    * dashboard (or any external catalog browser) ingests. */
  def exportJson(cat: Catalog, runs: Seq[TaskRun]): String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x" // control chars < 0x20
      case c => c.toString
    }
    val es = edges(cat)
    val nodes = es.map(e => (e._1, e._2)).distinct ++
      es.flatMap(e => e._3.map(d => (d, e._4.getOrElse("unknown")))).distinct
    val nodesJson = nodes.distinct.map { case (id, t) =>
      s"""{"id":"${esc(id)}","type":"${esc(t)}"}"""
    }.mkString("[", ",", "]")
    val edgesJson = es.collect { case (r, _, Some(d), _) =>
      s"""{"from":"${esc(d)}","to":"${esc(r)}"}"""
    }.mkString("[", ",", "]")
    val runsJson = runs.map { r =>
      s"""{"task":"${esc(r.task)}","runKey":"${esc(r.runKey)}",""" +
        s""""attempt":${r.attempt},"status":"${esc(r.status)}"}"""
    }.mkString("[", ",", "]")
    s"""{"nodes":$nodesJson,"edges":$edgesJson,"runs":$runsJson}"""
  }
}
