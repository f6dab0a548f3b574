package graft.corpus

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.util.Random

/** One row of the Iceberg-shaped input table (BASELINE.json .input_hint). */
final case class CorpusFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** Ground-truth labels: files derived from the same base belong together. */
final case class TruthLabel(repo: String, path: String, commit: String, baseId: Long, kind: String)

/** Deterministic synthetic source-code corpus (FIXTURES.md §1).
  *
  * Structure knobs:
  *  - each *base* document spawns 1..maxVariants variants — exact copies
  *    (cross-repo vendoring), near-dups (line edits at 1/5/15%), or the
  *    base itself;
  *  - ~30% of files carry one of a few shared license headers
  *    (boilerplate, the LSH hot-bucket stressor);
  *  - repo sizes are Zipf-skewed (mega-repo skew driver).
  *
  * Everything is a pure function of (seed, baseId, variantId), so the
  * generated table is identical regardless of partitioning or cluster
  * size; generation is distributed via spark.range over base ids.
  */
object CorpusGen {

  private val langs = Array("scala", "java", "c", "py", "md", "json")
  private val ext = Map("scala" -> ".scala", "java" -> ".java", "c" -> ".c",
    "py" -> ".py", "md" -> ".md", "json" -> ".json")

  private val keywords = Array("val", "def", "var", "if", "else", "while",
    "for", "return", "match", "case", "class", "object", "import", "new")

  private val licenses = Array(
    "// Licensed under the Apache License, Version 2.0 (the \"License\");\n// you may not use this file except in compliance with the License.\n// You may obtain a copy of the License at http://www.apache.org/licenses/LICENSE-2.0\n",
    "/* Copyright (c) The Authors. All rights reserved.\n * Redistribution and use in source and binary forms, with or without\n * modification, are permitted provided that the conditions are met.\n */\n",
    "# This program is free software: you can redistribute it and/or modify\n# it under the terms of the GNU General Public License as published by\n# the Free Software Foundation, either version 3 of the License.\n",
    "// SPDX-License-Identifier: MIT\n// Permission is hereby granted, free of charge, to any person obtaining\n// a copy of this software and associated documentation files.\n")

  private def ident(r: Random): String = {
    val roots = Array("buf", "idx", "node", "ctx", "chunk", "hash", "seg",
      "pool", "meta", "span", "tok", "acc", "tmp", "ptr")
    roots(r.nextInt(roots.length)) + r.nextInt(1000)
  }

  private def line(r: Random): String = {
    r.nextInt(5) match {
      case 0 => s"  ${keywords(r.nextInt(keywords.length))} ${ident(r)} = ${ident(r)}(${ident(r)}, ${r.nextInt(100)})"
      case 1 => s"  if (${ident(r)} > ${r.nextInt(1000)}) { ${ident(r)} += ${r.nextInt(10)} }"
      case 2 => s"  // ${ident(r)} handles the ${ident(r)} case for ${ident(r)}"
      case 3 => s"  ${ident(r)}.${ident(r)}(${r.nextInt(50)}, \"${ident(r)}\")"
      case _ => s"  def ${ident(r)}(${ident(r)}: Int): Long = ${ident(r)} * ${r.nextInt(97) + 1}L"
    }
  }

  /** Base document: 30..170 code-like lines, pure function of (seed, baseId). */
  def baseContent(seed: Long, baseId: Long): Vector[String] = {
    val r = new Random(seed * 0x9e3779b9L + baseId)
    val n = 30 + r.nextInt(140)
    Vector.tabulate(n)(_ => line(r))
  }

  /** Apply a deterministic edit script at `rate` to the base lines. */
  def editLines(lines: Vector[String], r: Random, rate: Double): Vector[String] = {
    val out = Vector.newBuilder[String]
    lines.foreach { l =>
      if (r.nextDouble() < rate) {
        r.nextInt(3) match {
          case 0 => // replace
            out += line(r)
          case 1 => // insert
            out += l; out += line(r)
          case 2 => // delete
        }
      } else out += l
    }
    out.result()
  }

  /** All files spawned by one base id, with truth labels. */
  def filesForBase(seed: Long, baseId: Long, nRepos: Int): Seq[(CorpusFile, TruthLabel)] = {
    val r = new Random(seed * 0x517cc1b7L + baseId * 31L)
    val lang = langs(r.nextInt(langs.length))
    val base = baseContent(seed, baseId)
    // Zipf-ish repo assignment: repo rank ~ r^3 skews mass to low ranks
    def zipfRepo(): String = {
      val u = r.nextDouble()
      val rank = math.min((u * u * u * nRepos).toInt, nRepos - 1)
      f"org/repo-$rank%05d"
    }
    val boiler = if (r.nextInt(10) < 3) licenses(r.nextInt(licenses.length)) else ""
    val dir = s"src/${ident(r)}/${ident(r)}"
    val fileName = ident(r) + ext(lang)
    val nVariants = 1 + r.nextInt(4)
    (0 until nVariants).map { v =>
      val (contentLines, kind) =
        if (v == 0) (base, "base")
        else r.nextInt(3) match {
          case 0 => (base, "exact")
          case _ =>
            val rate = Array(0.01, 0.05, 0.15)(r.nextInt(3))
            (editLines(base, new Random(seed + baseId * 977L + v), rate), s"near$rate")
        }
      val repo = if (kind == "exact") zipfRepo() else zipfRepo()
      val path = s"$dir/$fileName"
      val commit = f"${r.nextLong().abs}%040x".takeRight(40)
      val content = boiler + contentLines.mkString("\n") + "\n"
      (CorpusFile(repo, path, commit, lang, content),
        TruthLabel(repo, path, commit, baseId, kind))
    }
  }

  /** Distributed generation: ~(nBases × ~2.5) files. Partition count is
    * fixed independently of the session's core count so downstream
    * parquet files split evenly at any parallelism.
    */
  def generate(spark: SparkSession, nBases: Long, seed: Long = 42L,
      nRepos: Int = 100): Dataset[CorpusFile] = {
    import spark.implicits._
    val parts = math.max(64, spark.sparkContext.defaultParallelism)
    spark.range(0, nBases, 1, parts)
      .flatMap(b => filesForBase(seed, b, nRepos).map(_._1))
  }

  /** Sequential generation for the scalar oracle / unit tests. */
  def generateLocal(nBases: Long, seed: Long = 42L, nRepos: Int = 100): Seq[(CorpusFile, TruthLabel)] =
    (0L until nBases).flatMap(b => filesForBase(seed, b, nRepos))
}
