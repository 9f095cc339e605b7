package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.internal.SQLConf

/** Session-conf internals the lake layer scopes around its own queries:
  * the thread-local conf override Spark uses for the same purpose, and
  * the keys that switch a query to interpreted evaluation. Both are
  * `private[sql]` or `.internal()` in Spark; naming them here keeps a
  * Spark upgrade that drops either a compile error (or a failing
  * ExecModeSpec), never a silent no-op.
  */
object SqlConfShim {

  /** Confs under which a query runs with Spark's interpreted evaluation:
    * no whole-stage code generation, and every projection, predicate,
    * ordering and encoder built by its interpreted implementation rather
    * than a compiled class (`factoryMode` is an internal conf). */
  val Interpreted: Seq[(String, String)] = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString)

  /** Run `body` with `confs` set in the THREAD-LOCAL active SQLConf (a
    * modified clone). Session-level `spark.conf.set` is invisible wherever
    * Spark propagates a conf snapshot to the executing thread —
    * `foreachBatch` bodies, AQE re-planning threads — so scoped confs
    * must also bite there; `SQLConf.withExistingConf` is the
    * supported-but-`private[sql]` scoping mechanism Spark itself uses
    * for this, re-exposed here.
    */
  def withConfs[T](confs: Seq[(String, String)])(body: => T): T = {
    val cloned = SQLConf.get.clone()
    confs.foreach { case (k, v) => cloned.setConfString(k, v) }
    SQLConf.withExistingConf(cloned)(body)
  }
}
