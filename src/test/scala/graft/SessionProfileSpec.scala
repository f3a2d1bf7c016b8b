// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for the one session profile: the suites run under
  * exactly the settings [[GraftSession]] gives every main, and no
  * second session builder grows back in the program.
  */
class SessionProfileSpec extends AnyFunSuite {

  test("the test session carries every GraftSession setting") {
    val spark = SparkTestSession.spark
    val conf = spark.sparkContext.getConf
    val cores = SparkTestSession.Cores
    assert(conf.get("spark.master") === s"local[$cores]")
    GraftSession.settings(cores).foreach { case (k, v) =>
      assert(spark.conf.getOption(k).orElse(conf.getOption(k)) === Some(v), k)
    }
  }

  test("only GraftSession builds a session in the program") {
    val main = Paths.get("src/main/scala")
    val builders = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(main.relativize(_).toString).toSeq
    assert(builders === Seq("graft/GraftSession.scala"))
  }
}
