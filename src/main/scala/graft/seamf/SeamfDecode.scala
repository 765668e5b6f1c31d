package graft.seamf

/** The per-file seamf decode kernel: `read_seamf` (seamf.py:981-1070) and
  * its metadata-only fast path `read_seamf_meta` (seamf.py:1073-1103) as
  * one function. Every file reader calls it — the library ingest
  * ([[SeamfReader]]) and the DSv2 columnar and aggregate readers
  * (`graft.sources`) — so the steps exist once:
  *
  * tar unpack -> metadata parse -> sha512 -> decode prune -> XZ -> float16.
  *
  *   - sha512 over the compressed payload runs eagerly only when
  *     `checkHash` is set (a mismatch fails the file). Otherwise
  *     [[File.shaOk]] is lazy and only a caller that reports it (the sweep
  *     row) pays for the digest.
  *   - XZ inflation and float16 widening run only when `wantPayload` is
  *     set and some slot survives the prune.
  *   - Slot bounds are checked in `Long` against the widened payload before
  *     any offset narrows to `Int`, so a lying `core:sample_start` fails
  *     the file instead of wrapping onto other samples.
  *   - Nothing is copied: surviving slots are offsets into the payload.
  */
object SeamfDecode {

  /** One decoded file. `keep` are the slots that survived the prune, in
    * offset-table order; `payload` is null unless it was asked for and some
    * slot survived, and then `offsets(i)` is where `keep(i)` starts in it.
    */
  final class File(val path: String, val meta: SeamfMetadata.SeamfMeta,
      val keep: IndexedSeq[SeamfMetadata.TraceSlot],
      val payload: Array[Float], val offsets: Array[Int], sha: => Boolean) {
    /** Whether the compressed payload matches the declared sha512. */
    lazy val shaOk: Boolean = sha

    /** A copy of surviving slot `i`'s samples. */
    def slice(i: Int): Array[Float] =
      java.util.Arrays.copyOfRange(payload, offsets(i), offsets(i) + keep(i).length)
  }

  def decode(path: String, bytes: Array[Byte], tz: Option[String],
      prune: SeamfReader.TracePrune, wantPayload: Boolean,
      checkHash: Boolean): File = {
    val raw = SeamfCodec.unpackTar(bytes)
    val meta = SeamfMetadata.parse(raw.metaJson, tz)
    lazy val shaOk = SeamfCodec.checkSha512(meta, raw.compressedPayload)
    if (checkHash && !shaOk)
      throw new IllegalStateException(s"sha512 mismatch in $path")

    val keep = meta.slots.filter { s =>
      val cap = meta.captures(s.captureIdx)
      prune.matchesTable(s.table) &&
        prune.matchesCapture(cap.datetimeUs, cap.frequency)
    }.toIndexedSeq
    if (!wantPayload || keep.isEmpty)
      return new File(path, meta, keep, null, null, shaOk)

    val payload = HalfFloat.decodeVector(
      SeamfCodec.xzDecompress(raw.compressedPayload))
    // every slot, not just the survivors: a pruned decode must reject the
    // same files as the full decode it stands in for
    meta.slots.foreach { s =>
      require(s.length >= 0 && s.start >= 0 &&
        s.start <= payload.length - s.length,
        s"slot ${s.table} [${s.start}, +${s.length}) lies outside the " +
          s"${payload.length}-sample payload of $path")
    }
    new File(path, meta, keep, payload, keep.iterator.map(_.start.toInt).toArray,
      shaOk)
  }
}
