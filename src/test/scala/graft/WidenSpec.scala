package graft

import graft.ops.Widen
import org.scalatest.funsuite.AnyFunSuite

/** `Widen`'s chunk-size setting: a bad value must fall back to the
  * default instead of failing the query or dividing by zero. */
class WidenSpec extends AnyFunSuite {

  test("chunk size: malformed, zero and negative settings fall back to the default") {
    for (bad <- Seq("abc", "0", "-5"))
      assert(Widen.chunkBytes(Some(bad)) === Widen.DefaultChunkBytes, bad)
    assert(Widen.chunkBytes(None) === Widen.DefaultChunkBytes)
  }

  test("chunk size: a positive conf value is used") {
    assert(Widen.chunkBytes(Some("4096")) === 4096L)
    assert(Widen.chunkBytes(Some(" 8192 ")) === 8192L)
  }
}
