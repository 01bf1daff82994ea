package graft.query

import graft.model.Schemas
import graft.store.TableStore

/** S14 — the ad-hoc SQL surface (`database.py:261-280`): register every
  * warehouse table plus the unified edge view as temp views, making
  * `spark.sql(...)` the engine's public query API (parse → Catalyst →
  * executors), exactly the role `Database.execute_query` plays over
  * PostgreSQL in the reference.
  *
  * The documented `WITH RECURSIVE` tree-explosion shape
  * (`docs/DataModel.md:386-391`) runs natively at this surface — Spark 4
  * executes recursive CTEs via `UnionLoopExec` (QueriesSpec pins it
  * against the programmatic [[graft.ops.TreeExplode]] path; as in PG,
  * the step's output types must match the anchor exactly, so widening
  * decimal products need an explicit cast). For repeated tree reads
  * prefer [[graft.query.Queries.estrutura]]: it answers every root from
  * one closure of the edge snapshot, built on the first tree or roll-up
  * call by a [[graft.ops.TreeExplode]] pass (per-level checkpointing,
  * converging paths collapsed each hop) and rebuilt only after either
  * edge table is rewritten; a CTE here re-walks the tree on every query.
  */
object Views {
  def registerAll(store: TableStore): Unit = {
    Schemas.all.keys.foreach { t =>
      store.read(t).createOrReplaceTempView(t)
    }
    store.registerUnifiedView()
  }
}
