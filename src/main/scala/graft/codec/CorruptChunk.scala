package graft.codec

/** Encoded bytes that cannot be what an encoder wrote: a header that
  * promises more values than the buffer holds, or a run that overruns
  * its value count. Decoders throw it before they allocate or write
  * past a bound.
  */
final class CorruptChunk(msg: String) extends RuntimeException(msg)
