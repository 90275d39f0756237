package org.apache.spark

/** Spec probe for `RDD.getCreationSite` (private[spark]): the call site an
  * RDD was created under, which a test can set per thread with
  * `SparkContext.setCallSite` to tell its own RDDs from a parallel suite's.
  */
object RddSiteProbe {
  def creationSite(rdd: org.apache.spark.rdd.RDD[_]): String = rdd.getCreationSite
}
