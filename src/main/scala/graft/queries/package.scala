package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** A driver query: (session, sf dir) => result. */
  type Q = (SparkSession, String) => DataFrame
}
