package graft

import graft.sources.TxTable

/** Pins the COMMIT-METADATA RPC budget of snapshot resolution — the
  * per-query object-store tax the round-15 verdict flagged as the
  * graft-tx family drift. Each `TxTable.read` must resolve its
  * snapshot ONCE: one head resolution (hint read + verify + forward
  * probe) and one commit-file consult, not one per layer of the
  * read → readResolved → readResolved0 → planSnapshot chain. The
  * counter lives in TxTable (metaRpcs) and counts hint/exists/list/
  * status/content round trips on the _commits metadata only — data
  * listing and footer probes scale with the snapshot, not with
  * re-resolution, and are excluded by design. */
class MetaRpcSpec extends SparkSpec {

  private def rpcsOf(body: => Unit): Long = {
    TxTable.metaRpcReset()
    body
    TxTable.metaRpcCount
  }

  test("plain read of latest resolves the snapshot once") {
    import spark.implicits._
    val root = tmpDir() + "/rpc-plain"
    TxTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root)
    TxTable.read(spark, root).count() // warm commit cache + FS
    val n = rpcsOf { TxTable.read(spark, root).count() }
    info(s"plain-read latest: $n metadata RPCs")
    // one head resolution (exists-hint + status+open of hint + verify
    // + 1 forward probe) + one commit-file validation = 6; anything
    // near the pre-round-16 ~15 means a layer re-resolves.
    assert(n <= 7, s"read of latest cost $n commit-metadata RPCs")
  }

  test("version-pinned read skips head resolution entirely") {
    import spark.implicits._
    val root = tmpDir() + "/rpc-pin"
    TxTable.append(Seq((1L, 10.0)).toDF("k", "v"), root)
    TxTable.append(Seq((2L, 20.0)).toDF("k", "v"), root)
    TxTable.read(spark, root, version = 1).count()
    val n = rpcsOf { TxTable.read(spark, root, version = 1).count() }
    info(s"pinned read: $n metadata RPCs")
    assert(n <= 2, s"pinned read cost $n commit-metadata RPCs")
  }

  test("keyed MoR read with a range resolves once too") {
    import spark.implicits._
    val root = tmpDir() + "/rpc-mor"
    TxTable.merge(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L))
        .toDF("k", "op", "v", "seq"))
    TxTable.merge(spark, root,
      Seq((1L, "U", 11.0, 3L)).toDF("k", "op", "v", "seq"))
    TxTable.read(spark, root, keyRange = Some((1L, 2L))).count()
    val n = rpcsOf {
      TxTable.read(spark, root, keyRange = Some((1L, 2L))).count()
    }
    info(s"MoR ranged read: $n metadata RPCs")
    assert(n <= 7, s"MoR ranged read cost $n commit-metadata RPCs")
  }

  test("a second append consults its parent commit once") {
    import spark.implicits._
    val root = tmpDir() + "/rpc-append"
    TxTable.append(Seq((1L, 10.0)).toDF("k", "v"), root)
    val n = rpcsOf {
      TxTable.append(Seq((2L, 20.0)).toDF("k", "v"), root)
    }
    info(s"second append: $n metadata RPCs")
    // one head resolution (5), shared by the write and its first claim
    // attempt, one status check of the parent commit (the first append
    // cached the commit it claimed, so its content is not read again),
    // and one status check of the claimed commit to cache it for the
    // next consult = 7
    assert(n <= 7, s"second append cost $n commit-metadata RPCs")
  }

  test("format-face read stays within the same budget per load") {
    import spark.implicits._
    val root = tmpDir() + "/rpc-face"
    TxTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root)
    spark.read.format("graft-tx").load(root).count()
    val n = rpcsOf { spark.read.format("graft-tx").load(root).count() }
    info(s"format-face read: $n metadata RPCs")
    // one head resolution at load (6, as one TxTable.read), then the
    // metadata-only count at the relation's own head: one forward
    // probe and one status check of that commit
    assert(n <= 8, s"format-face read cost $n commit-metadata RPCs")
  }

  test("mergeInto's commit body reads the head it was handed") {
    import spark.implicits._
    val root = tmpDir() + "/rpc-mergeinto"
    TxTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root)
    val src = Seq((2L, 21.0), (3L, 30.0)).toDF("k", "v")
    val n = rpcsOf { TxTable.mergeInto(spark, root, src, Seq("k")) }
    info(s"mergeInto: $n metadata RPCs")
    // one head resolution (5) for the attempt, the claim's status
    // check, and one status check to cache the claimed commit = 7; a
    // body that re-read its version by number paid one more (8)
    assert(n <= 7, s"mergeInto cost $n commit-metadata RPCs")
  }
}
