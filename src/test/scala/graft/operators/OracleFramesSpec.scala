package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

class OracleFramesSpec extends AnyFunSuite {

  test("frames live under the running checkout's target/ unless graft.oracle.frames.dir is set") {
    val expected = sys.props.getOrElse("graft.oracle.frames.dir",
      Paths.get(sys.props("user.dir")).toAbsolutePath.resolve("target").resolve("oracle_frames").toString)
    assert(OracleFrames.dir == expected)
    assert(Paths.get(OracleFrames.dir).isAbsolute)
  }
}
