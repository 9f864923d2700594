package org.apache.spark
package graftspec

import org.apache.hadoop.conf.Configuration

/** Spark's own `private[spark]` conversion of a SparkConf into the Hadoop
  * configuration a SparkContext starts with, for specs that check confs
  * meant for session birth without starting a second context. */
object HadoopConfs {
  def atStart(confs: Seq[(String, String)]): Configuration =
    deploy.SparkHadoopUtil.get.newConfiguration(new SparkConf(false).setAll(confs))
}
