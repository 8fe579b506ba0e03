package graft.cli

import org.apache.spark.sql.SparkSession

/** The warehouse workloads start their session through the CLI mains'
  * own builder, so a change to the CLI's session defaults shows in the
  * benchmark. */
object CliAccess {
  def session(appName: String): SparkSession = Cli.session(appName)
}
