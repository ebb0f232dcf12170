package graft

package object expressions {

  /** Java source for a Scala `object`'s singleton, so a `doGenCode`
    * can emit one call into the kernel that `nullSafeEval` runs. */
  private[expressions] def moduleRef(module: AnyRef): String =
    module.getClass.getName + ".MODULE$"
}
